"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Payloads are REAL container formats, decoded with dependency-free stdlib
parsers (struct + zlib — no PIL/librosa/ffmpeg in this container, and none
needed for header/structure decode):

- PNG: full writer (signature, IHDR, zlib IDAT, IEND, CRC-checked) and an
  IHDR decoder (width/height/bit depth/color type) that verifies the
  signature and chunk CRC. Public format spec: RFC 2083.
- WAV: PCM writer (RIFF/WAVE/fmt/data) and a chunk-walking decoder
  (sample rate/channels/bits/sample count). Public format: RIFF spec.
- GIF: animated GIF89a writer (per-frame graphic-control + image
  descriptor + fixed-width LZW, optional 4-color pattern pixels) and a
  structural frame-walk decoder (per-frame dims/delay/min-code-size/
  interlace/data). Public format spec: GIF89a (CompuServe 1990). Frame
  sampling over GIF payloads is therefore REAL (r6).

PIXEL-level work is REAL for 8-bit grayscale PNG (r6), GIF (r7), AND AVI
video (r8): PNG runs the full IDAT pipeline — chunk walk with CRC
checks, zlib inflate, scanline UNfiltering for all five PNG filter types
(None/Sub/Up/Average/Paeth) — GIF runs the general variable-width LZW
decompressor (code-table growth, 12-bit cap, KwKwK case, four-pass
deinterlace), and AVI walks the RIFF/hdrl/movi container to per-frame
pixel decode for uncompressed bottom-up padded DIB, the full BI_RLE8
spec (runs, absolute mode, end-of-line/bitmap, delta), AND MJPEG —
baseline-JPEG frames with real entropy coding (operators/jpeg.py:
Annex K Huffman tables, DC differential + AC run/size symbols, byte
stuffing, orthonormal 8x8 DCT); all of them feed the same
nearest-neighbor numpy resize. MPEG-1 video is REAL too (r11 —
operators/mpeg1.py): I pictures (sequence/GOP/picture/slice/macroblock
walk, Annex B VLC entropy decode, differential DC, intra dequant with
oddification, shared zigzag + orthonormal IDCT, 4:2:0 assembly) AND
zero-residual P pictures (Table B.2b/B.4 entropy decode, MV
differential prediction with the modulo wrap, skipped-macroblock copy,
full-pel forward motion compensation, intra refresh). The remaining
stubs refuse loudly: H.264/VP9 (genuinely need codec libraries),
MPEG-1 B pictures, P residual blocks, and sub-pel interpolation —
everything up to each boundary (container walk, stream headers, frame
slicing, MC addressing) is the same code path they would feed. The Spark-side shape is
production-real throughout: binary columns, Arrow-batched
``mapInPandas`` with explicit output schemas, partition-sized batches,
no collect, no per-row Python UDFs.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("media_type", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bit_depth", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
    ]
)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def spread_media_ids(src: DataFrame, heavy: bool = False) -> DataFrame:
    """Hash-spread a small id-keyed fixture relation across the
    session's cores before a per-row Arrow kernel (r15, guide §2.5).

    The id tables driving the media synthesizers are projections of a
    single small parquet split, so without this every downstream
    synth+decode ``mapInPandas`` chain (synth and decode pipeline in
    ONE stage — no exchange between them) ran in ONE task regardless
    of core count: the guide's "input skew" shape with payload-heavy
    per-row Python work. Repartitioning on the id column is
    deterministic (hash placement, no round-robin retry hazard), moves
    only the 8-byte ids through the exchange (guide §8: decide/spread
    with small rows, never shuffle payloads), and is scale-adaptive:
    both widths derive from ``defaultParallelism`` — the session's
    total core count under any master — so the driver's lower-core
    bench run sees proportionally fewer partitions.

    ``heavy`` picks the width by measured per-row kernel cost (the
    empirical loop of guide §1.1, min-of-N interleaved A/B at sf0.1):

    - ``heavy=True`` → all cores. For entropy-decode kernels in
      interpreted Python (MPEG-1 VLC ≈ 5 ms/row measured, JPEG
      Huffman, GIF LZW, TIFF LZW, the audio fingerprint chain) the
      kernel dwarfs per-task setup: mpeg1_frame_accounting 2.68 s →
      1.32 s min-of-6 at full width.
    - ``heavy=False`` (default) → a quarter of the cores (≥ 2). Light
      kernels (zlib/frombuffer-bound, ≤ 0.1 ms/row — the whole
      image_resize kernel is 0.24 s single-threaded at sf0.1) are
      overhead-dominated: each extra task pays chained Python-eval
      setup serialized at the worker factory, and full width measured
      WORSE than quarter width on every light key
      (image_resize 1.63 vs 0.92 s, avi 1.45 vs 0.84 s min).

    Real crawl media never passes through here — it arrives via
    binaryFile/crawl scans that are already file-split; this spread
    exists for the id→payload fixture generators only.

    Corpus-size gate (r16, VERDICT r15 #2): the width is additionally
    capped by the optimizer's size estimate of ``src`` (metadata only —
    no job), so a below-one-task's-work id frame skips the exchange
    outright instead of paying it for nothing. The cap is deliberately
    loose: an r16 width sweep at sf0.1 (none/2/4/8, min-of-4 solo,
    32 cores) measured the r15 widths already optimal-or-tied on every
    light key (frames 1.05/1.07/0.94/0.97 s, features 0.60/0.67/0.57/
    0.58, image_resize 1.88/1.05/0.84/0.69, avi 0.91/0.78/0.70/0.53),
    i.e. the r15 VERDICT's "skip the spread to recover multimodal_
    frames" hypothesis did NOT reproduce solo — so the gate only fires
    when the estimate says the whole frame is under ~one task of rows,
    where the exchange provably buys nothing. Unknown estimates (non-
    relation sources) keep the full width.
    """
    from rippledb_engine.operators.skew import _MIN_ROWS_PER_TASK, _estimated_rows

    sc = src.sparkSession.sparkContext
    n = sc.defaultParallelism if heavy else max(2, sc.defaultParallelism // 4)
    rows = _estimated_rows(src)
    if rows is not None:
        n = min(n, max(1, rows // _MIN_ROWS_PER_TASK))
    if n <= 1:
        return src
    return src.repartition(n, src.columns[0])


# ---------------------------------------------------------------------------
# Codecs (pure stdlib; encode for test synthesis, decode for the pipeline)
# ---------------------------------------------------------------------------


def encode_png(width: int, height: int, gray: bytes) -> bytes:
    """Minimal VALID 8-bit grayscale PNG (RFC 2083): signature + IHDR +
    one zlib IDAT (filter-0 scanlines) + IEND, all chunks CRC'd. ``gray``
    supplies pixel bytes, repeated/truncated to width*height."""
    if width <= 0 or height <= 0:
        raise ValueError("png dimensions must be positive")
    need = width * height
    px = (gray * (need // max(len(gray), 1) + 1))[:need] if gray else b"\x00" * need

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)  # gray, depth 8
    raw = b"".join(b"\x00" + px[y * width : (y + 1) * width] for y in range(height))
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def decode_png_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a PNG's IHDR → (width, height, bit_depth, color_type).
    Verifies the 8-byte signature, that the first chunk is a 13-byte IHDR,
    and the IHDR CRC. Raises ValueError on any structural violation."""
    if len(payload) < 33 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG: bad signature")
    (length,) = struct.unpack(">I", payload[8:12])
    tag = payload[12:16]
    if tag != b"IHDR" or length != 13:
        raise ValueError(f"first PNG chunk must be IHDR(13), got {tag!r}({length})")
    body = payload[16:29]
    (crc,) = struct.unpack(">I", payload[29:33])
    if zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF != crc:
        raise ValueError("PNG IHDR CRC mismatch")
    width, height, depth, color = struct.unpack(">IIBB", body[:10])
    if width == 0 or height == 0:
        raise ValueError("PNG IHDR has zero dimension")
    return width, height, depth, color


def _paeth(a: int, b: int, c: int) -> int:
    # PNG Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 6: 4}  # color type → samples per pixel


def decode_png_any(payload: bytes) -> dict:
    """REAL pixel decode for 8-bit PNGs of all four common color types
    (r8 — color generalization of the r6 grayscale path) →
    {width, height, color_type, channels, pixels}: grayscale (0),
    truecolor RGB (2), palette (3 — PLTE expanded to RGB, channels 3),
    and RGBA (6). Walks every chunk (CRC-verified), concatenates the
    IDAT stream, zlib-inflates, and reverses the per-scanline filter —
    all five filter types with the CORRECT bytes-per-pixel stride (Sub/
    Average/Paeth reference the sample one PIXEL left, not one byte,
    per RFC 2083 §6.3). Raises ValueError on other depths/types, a
    missing PLTE, an out-of-range palette index, or a palette tRNS
    chunk (alpha would be silently lost — refuse-loudly policy)."""
    w, h, depth, color = decode_png_header(payload)
    if depth != 8 or color not in _PNG_CHANNELS:
        raise ValueError(
            f"pixel decode supports 8-bit color types 0/2/3/6, got "
            f"depth {depth} type {color}"
        )
    bpp = _PNG_CHANNELS[color]
    pos, idat = 8, []
    palette: bytes | None = None
    trns: bytes | None = None
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(payload):
            raise ValueError(f"truncated PNG chunk {tag!r}")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {tag!r}")
        if tag == b"IDAT":
            idat.append(body)
        elif tag == b"PLTE":
            if length % 3 or length == 0 or length > 768:
                raise ValueError("PNG PLTE length must be 3x entries <= 768")
            palette = body
        elif tag == b"tRNS":
            if color == 3:
                if length > 256:
                    raise ValueError("PNG tRNS longer than the palette")
                trns = body  # may be SHORTER than PLTE (tail is opaque)
            else:
                raise ValueError(
                    "tRNS on color type 0/2 is a 16-bit color-key (a "
                    "different semantics than per-entry alpha) — refuse "
                    "loudly rather than silently dropping transparency"
                )
        if tag == b"IEND":
            break
        pos += 12 + length
    if not idat:
        raise ValueError("PNG has no IDAT chunk")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"PNG IDAT inflate failed: {e}") from None
    stride = w * bpp
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    out = bytearray(stride * h)
    prev = bytes(stride)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ft == 1:  # Sub
            for x in range(bpp, stride):
                line[x] = (line[x] + line[x - bpp]) & 0xFF
        elif ft == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif ft == 3:  # Average
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                ul = prev[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + _paeth(left, prev[x], ul)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    if color == 3:
        if palette is None:
            raise ValueError("palette PNG is missing its PLTE chunk")
        n_entries = len(palette) // 3
        if trns is not None and len(trns) > n_entries:
            raise ValueError("PNG tRNS longer than the palette")
        # with tRNS: expand to RGBA (r11 — the formerly-refused corner);
        # entries past the tRNS tail are fully opaque (PNG §11.3.2.1)
        ch = 3 if trns is None else 4
        rgb = bytearray(w * h * ch)
        for k, idx in enumerate(out):
            if idx >= n_entries:
                raise ValueError(
                    f"palette index {idx} out of range ({n_entries} entries)"
                )
            rgb[ch * k : ch * k + 3] = palette[3 * idx : 3 * idx + 3]
            if ch == 4:
                rgb[ch * k + 3] = trns[idx] if idx < len(trns) else 255
        return {
            "width": w,
            "height": h,
            "color_type": 3,
            "channels": ch,
            "pixels": bytes(rgb),
        }
    return {
        "width": w,
        "height": h,
        "color_type": color,
        "channels": bpp,
        "pixels": bytes(out),
    }


def decode_png_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """REAL pixel decode for 8-bit grayscale PNG → (width, height, raw
    pixel bytes, row-major) — the r6 contract, now a wrapper over
    :func:`decode_png_any` (which also does color types 2/3/6)."""
    w, h, depth, color = decode_png_header(payload)
    if depth != 8 or color != 0:
        raise ValueError("pixel decode supports 8-bit grayscale PNG only")
    d = decode_png_any(payload)
    return d["width"], d["height"], d["pixels"]


def resize_nearest(
    width: int, height: int, pixels: bytes, out_w: int, out_h: int
) -> bytes:
    """Nearest-neighbor resample of row-major 8-bit grayscale pixels:
    out[i][j] = src[floor(i*h/out_h)][floor(j*w/out_w)] — the floor-map
    convention a SQL oracle reproduces with integer division. One numpy
    fancy-index, no Python pixel loop."""
    import numpy as np

    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if out_w <= 0 or out_h <= 0:
        raise ValueError("resize dimensions must be positive")
    a = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width)
    yi = (np.arange(out_h) * height) // out_h
    xi = (np.arange(out_w) * width) // out_w
    return a[yi][:, xi].tobytes()


def encode_wav(sample_rate: int, samples: bytes) -> bytes:
    """Minimal VALID PCM WAV (RIFF spec): mono, 16-bit. ``samples`` is raw
    little-endian s16 data (length must be even)."""
    if sample_rate <= 0:
        raise ValueError("sample rate must be positive")
    if len(samples) % 2:
        raise ValueError("s16 sample data must have even length")
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(samples))
        + samples
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_header(payload: bytes) -> tuple[int, int, int, int]:
    """Walk a RIFF/WAVE chunk list → (sample_rate, channels,
    bits_per_sample, n_samples). Raises ValueError on structural
    violations (bad magic, missing fmt/data, truncated chunks)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE magic")
    pos, fmt, data_size = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > len(payload):
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", payload[pos + 8 : pos + 24])
        elif tag == b"data":
            data_size = size
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data_size is None:
        raise ValueError("WAV missing fmt or data chunk")
    _, channels, rate, _, block_align, bits = fmt
    if channels == 0 or block_align == 0:
        raise ValueError("WAV fmt has zero channels/block align")
    return rate, channels, bits, data_size // block_align


# --- G.711 / IMA-ADPCM audio codecs (r9) -----------------------------------
# The two most common non-PCM WAV payloads, both public specs: ITU-T G.711
# (μ-law format tag 7 / A-law tag 6 — telephony audio, one byte per sample)
# and IMA/DVI ADPCM (tag 0x11 — 4-bit differential coding, IMA "Recommended
# Practices for Enhancing Digital Audio Compatibility", 1992). The decode
# arithmetic below follows the public-domain reference expansions (the
# widely-reproduced Sun g711.c forms and the IMA step/index tables); both
# are pure integer recurrences, so a SQL oracle replays every decoded
# sample exactly — G.711 in closed form, ADPCM via a recursive CTE.

WAVE_FMT_PCM, WAVE_FMT_ALAW, WAVE_FMT_MULAW, WAVE_FMT_IMA = 1, 6, 7, 0x11

IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]


def mulaw_decode_byte(b: int) -> int:
    """One G.711 μ-law byte → linear s16 (Sun g711.c ulaw2linear form)."""
    u = ~b & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def alaw_decode_byte(b: int) -> int:
    """One G.711 A-law byte → linear s16 (Sun g711.c alaw2linear form;
    the sign bit SET means positive after the 0x55 toggle)."""
    a = b ^ 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def encode_wav_g711(sample_rate: int, encoded: bytes, law: str) -> bytes:
    """Minimal VALID G.711 WAV: mono 8-bit, format tag 7 (``"ulaw"``) or
    6 (``"alaw"``); ``encoded`` is the raw one-byte-per-sample stream."""
    if sample_rate <= 0:
        raise ValueError("sample rate must be positive")
    tag = {"ulaw": WAVE_FMT_MULAW, "alaw": WAVE_FMT_ALAW}[law]
    fmt = struct.pack("<HHIIHH", tag, 1, sample_rate, sample_rate, 1, 8)
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(encoded))
        + encoded
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def encode_wav_ima(
    sample_rate: int, predictor: int, step_index: int, nibbles: list[int]
) -> bytes:
    """Minimal VALID IMA-ADPCM WAV (format tag 0x11), mono, ONE block:
    4-byte block header (predictor s16, step index u8, reserved) + the
    4-bit codes packed low-nibble-first. The header predictor IS sample
    0 (the IMA WAV convention), so the clip holds 1 + len(nibbles)
    samples. ``nibbles`` must have even length (byte packing)."""
    if sample_rate <= 0:
        raise ValueError("sample rate must be positive")
    if len(nibbles) % 2:
        raise ValueError("IMA nibble count must be even (byte packing)")
    if not -32768 <= predictor <= 32767 or not 0 <= step_index <= 88:
        raise ValueError("IMA block header out of range")
    if any(not 0 <= d <= 15 for d in nibbles):
        raise ValueError("IMA codes are 4-bit")
    data = struct.pack("<hBB", predictor, step_index, 0) + bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    block_align = len(data)
    samples_per_block = 1 + len(nibbles)
    fmt = struct.pack(
        "<HHIIHHHH",
        WAVE_FMT_IMA, 1, sample_rate,
        (sample_rate * block_align) // samples_per_block,
        block_align, 4, 2, samples_per_block,
    )
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def ima_decode_block(pred: int, index: int, nibbles) -> list[int]:
    """IMA-ADPCM nibble recurrence → decoded samples (EXCLUDING the
    header predictor/sample 0): per code d, diff = step/8 (+step/4 if
    bit0, +step/2 if bit1, +step if bit2), subtracted when bit3 is set;
    predictor clamps to s16, index moves by IMA_INDEX_TABLE[d&7] and
    clamps to [0, 88]."""
    out = []
    for d in nibbles:
        step = IMA_STEP_TABLE[index]
        diff = step >> 3
        if d & 1:
            diff += step >> 2
        if d & 2:
            diff += step >> 1
        if d & 4:
            diff += step
        pred = pred - diff if d & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + IMA_INDEX_TABLE[d & 7]))
        out.append(pred)
    return out


# --- TIFF (r9; LZW r10) ------------------------------------------------------
# Baseline TIFF 6.0 (Adobe, public spec): grayscale 8-bit, uncompressed
# (Compression=1), PackBits RLE (32773, spec §9 — the classic scanned-
# document payload), or LZW (5, spec §13 — the other common scanned-corpus
# variant, with the §14 horizontal-differencing Predictor=2), both byte
# orders, multi-strip. Everything outside that profile refuses loudly.

def packbits_encode(row: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: runs of ≥2 equal bytes → (257−n) repeat
    packets, everything else → literal packets, both capped at 128.
    Deterministic greedy — the decoder inverts any valid stream, so the
    exact packet choice only needs to be consistent, not canonical."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))
            out.append(row[i])
            i = j
            continue
        # literal run: until the next ≥2-byte repeat or the 128 cap
        j = i + 1
        while (
            j < n
            and j - i < 128
            and not (j + 1 < n and row[j + 1] == row[j])
        ):
            j += 1
        out.append(j - i - 1)
        out.extend(row[i:j])
        i = j
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`packbits_encode`, reading until ``expected``
    output bytes; control byte 128 is a no-op per spec."""
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("PackBits stream truncated")
        c = data[i]
        i += 1
        if c < 128:
            if i + c + 1 > len(data):
                raise ValueError("PackBits literal overruns stream")
            out.extend(data[i : i + c + 1])
            i += c + 1
        elif c > 128:
            if i >= len(data):
                raise ValueError("PackBits repeat missing byte")
            out.extend(data[i : i + 1] * (257 - c))
            i += 1
        # c == 128: no-op
    if len(out) != expected:
        raise ValueError("PackBits output overran expected size")
    return bytes(out)


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW compression: MSB-first bit packing, ClearCode
    256 / EndOfInformation 257, table entries from 258, and the spec's
    EARLY code-width change — the encoder bumps 9→10→11→12 bits as soon
    as NextCode reaches 511/1023/2047 (one code earlier than GIF's
    LSB-first variant, decode_gif_lzw), and emits ClearCode to reset the
    table when NextCode reaches 4094. Distinct from the GIF machinery in
    bit order, width schedule, and framing, which is why it is a
    sibling, not a reuse."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def write(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    # The classic (prefix code, next byte) int-keyed table (r16): the
    # running string omega is represented by its CODE (roots are the
    # bytes themselves), so the per-byte probe is one dict lookup on a
    # small int instead of a bytes concatenation — the emitted code
    # sequence is identical by construction.
    table: dict[int, int] = {}
    next_code, width = 258, 9
    write(CLEAR, width)
    prev = -1
    for b in data:
        if prev < 0:
            prev = b
            continue
        key = (prev << 8) | b
        nc = table.get(key)
        if nc is not None:
            prev = nc
            continue
        write(prev, width)
        table[key] = next_code
        next_code += 1
        if next_code in (511, 1023, 2047):
            width += 1
        elif next_code == 4094:
            write(CLEAR, width)
            table, next_code, width = {}, 258, 9
        prev = b
    if prev >= 0:
        write(prev, width)
    write(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """Inverse of :func:`tiff_lzw_encode` (TIFF 6.0 §13 decoder
    pseudocode), reading MSB-first codes until EndOfInformation or
    ``expected`` output bytes. The decoder's width bumps at NextCode
    510/1022/2046 — one entry before the encoder's 511/1023/2047,
    because its table trails the encoder's by exactly one entry when a
    code is read (the spec's early-change contract)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    pos = acc = nbits = 0
    n = len(data)
    roots = [bytes([i]) for i in range(256)] + [b"", b""]
    table: list[bytes] = list(roots)
    next_code, width = 258, 9
    old: bytes | None = None
    # flat loop with local-variable bit extraction (r16 — the closure
    # read() was half the per-code cost); code sequence and all error
    # paths identical to the TIFF 6.0 §13 pseudocode walk above
    while len(out) < expected:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated TIFF LZW stream (no EOI)")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        if code == EOI:
            break
        if code == CLEAR:
            table = list(roots)
            next_code, width = 258, 9
            while nbits < width:
                if pos >= n:
                    raise ValueError("truncated TIFF LZW stream (no EOI)")
                acc = (acc << 8) | data[pos]
                pos += 1
                nbits += 8
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == EOI:
                break
            if code >= 256:
                raise ValueError("TIFF LZW first code after CLEAR not a root")
            entry = table[code]
            out += entry
            old = entry
            continue
        if old is None:
            raise ValueError("TIFF LZW stream does not start with CLEAR")
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = old + old[:1]
        else:
            raise ValueError(f"TIFF LZW code {code} out of range")
        out += entry
        table.append(old + entry[:1])
        next_code += 1
        if next_code in (510, 1022, 2046):
            width += 1
        old = entry
    if len(out) != expected:
        raise ValueError("TIFF LZW output does not match expected size")
    return bytes(out)


def _tiff_diff_rows(raw: bytes, width: int) -> bytes:
    """Predictor=2 (TIFF 6.0 §14, horizontal differencing) forward pass:
    per row, keep byte 0 and store pixel deltas mod 256."""
    out = bytearray()
    for r in range(len(raw) // width):
        row = raw[r * width : (r + 1) * width]
        out.append(row[0])
        out.extend((row[x] - row[x - 1]) % 256 for x in range(1, width))
    return bytes(out)


def _tiff_undiff_rows(raw: bytes, width: int) -> bytes:
    """Predictor=2 inverse: per-row cumulative sum mod 256."""
    out = bytearray()
    for r in range(len(raw) // width):
        row = raw[r * width : (r + 1) * width]
        acc = row[0]
        out.append(acc)
        for x in range(1, width):
            acc = (acc + row[x]) % 256
            out.append(acc)
    return bytes(out)


def encode_tiff(
    width: int,
    height: int,
    pixels: bytes,
    packbits: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    lzw: bool = False,
    predictor: int = 1,
) -> bytes:
    """Minimal VALID baseline TIFF: grayscale 8-bit, single sample,
    uncompressed, PackBits (rows packed separately per spec §9), or LZW
    (§13, per strip — r10), optional horizontal-differencing
    ``predictor=2`` (§14), either byte order, ``rows_per_strip`` strips
    (default: one strip)."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if packbits and lzw:
        raise ValueError("pick one compression: packbits or lzw")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    bo = ">" if big_endian else "<"
    rps = height if rows_per_strip is None else rows_per_strip
    if rps <= 0:
        raise ValueError("rows_per_strip must be positive")
    strips: list[bytes] = []
    for y0 in range(0, height, rps):
        raw = pixels[y0 * width : min(y0 + rps, height) * width]
        if predictor == 2:
            raw = _tiff_diff_rows(raw, width)
        if packbits:
            strips.append(
                b"".join(
                    packbits_encode(raw[r * width : (r + 1) * width])
                    for r in range(len(raw) // width)
                )
            )
        elif lzw:
            strips.append(tiff_lzw_encode(raw))
        else:
            strips.append(raw)
    n_strips = len(strips)
    # layout: header(8) | IFD | [offset/count arrays] | strip data
    n_entries = 9 + (1 if predictor == 2 else 0)
    ifd_size = 2 + n_entries * 12 + 4
    pos = 8 + ifd_size
    extra = b""
    if n_strips > 1:
        offsets_at = pos
        pos += 4 * n_strips
        counts_at = pos
        pos += 4 * n_strips
    data_at = pos
    offs, cnts = [], []
    for s in strips:
        offs.append(pos)
        cnts.append(len(s))
        pos += len(s)
    if n_strips > 1:
        extra = struct.pack(f"{bo}{n_strips}I", *offs) + struct.pack(
            f"{bo}{n_strips}I", *cnts
        )

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        if typ == 3 and count == 1:  # SHORT packs into the value slot
            return struct.pack(f"{bo}HHIHH", tag, typ, count, value, 0)
        return struct.pack(f"{bo}HHII", tag, typ, count, value)

    comp = 5 if lzw else (32773 if packbits else 1)
    entries = [
        entry(256, 3, 1, width),                      # ImageWidth
        entry(257, 3, 1, height),                     # ImageLength
        entry(258, 3, 1, 8),                          # BitsPerSample
        entry(259, 3, 1, comp),                       # Compression
        entry(262, 3, 1, 1),                          # Photometric: BlackIsZero
        entry(273, 4, n_strips,
              offs[0] if n_strips == 1 else offsets_at),  # StripOffsets
        entry(277, 3, 1, 1),                          # SamplesPerPixel
        entry(278, 3, 1, rps),                        # RowsPerStrip
        entry(279, 4, n_strips,
              cnts[0] if n_strips == 1 else counts_at),   # StripByteCounts
    ]
    if predictor == 2:
        entries.append(entry(317, 3, 1, 2))           # Predictor (tag-sorted)
    ifd = struct.pack(f"{bo}H", n_entries) + b"".join(entries) + struct.pack(
        f"{bo}I", 0
    )
    header = (b"MM" if big_endian else b"II") + struct.pack(f"{bo}HI", 42, 8)
    return header + ifd + extra + b"".join(strips)


def decode_tiff(payload: bytes) -> dict:
    """Baseline-TIFF decode → {"width", "height", "pixels"}: header +
    first-IFD walk (both byte orders), SHORT/LONG tag values inline or
    via offset arrays, strip reassembly, PackBits/LZW expansion,
    Predictor=2 undifferencing. Anything outside the grayscale-8-bit
    profile (other compressions, predictors, bit depths, photometrics,
    samples) refuses loudly."""
    if len(payload) < 8 or payload[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF: bad byte-order mark")
    bo = "<" if payload[:2] == b"II" else ">"
    magic, ifd_at = struct.unpack_from(f"{bo}HI", payload, 2)
    if magic != 42:
        raise ValueError(f"not a TIFF: magic {magic}")
    if ifd_at + 2 > len(payload):
        raise ValueError("TIFF IFD offset out of bounds")
    (n_entries,) = struct.unpack_from(f"{bo}H", payload, ifd_at)
    tags: dict[int, tuple[int, int, int]] = {}
    for i in range(n_entries):
        at = ifd_at + 2 + i * 12
        if at + 12 > len(payload):
            raise ValueError("TIFF IFD truncated")
        tag, typ, count = struct.unpack_from(f"{bo}HHI", payload, at)
        if typ == 3 and count == 1:
            (value,) = struct.unpack_from(f"{bo}H", payload, at + 8)
        else:
            (value,) = struct.unpack_from(f"{bo}I", payload, at + 8)
        tags[tag] = (typ, count, value)

    def scalar(tag: int, default: int | None = None) -> int:
        if tag not in tags:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return tags[tag][2]

    def array(tag: int) -> list[int]:
        typ, count, value = tags[tag]
        if count == 1:
            return [value]
        width_ = 2 if typ == 3 else 4
        fmt = "H" if typ == 3 else "I"
        end = value + count * width_
        if end > len(payload):
            raise ValueError(f"TIFF tag {tag} array out of bounds")
        return list(struct.unpack_from(f"{bo}{count}{fmt}", payload, value))

    width = scalar(256)
    height = scalar(257)
    if scalar(258, 8) != 8:
        raise ValueError("TIFF decode supports 8-bit samples only")
    comp = scalar(259, 1)
    if comp not in (1, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    if scalar(262) not in (0, 1):
        raise ValueError("TIFF decode supports grayscale photometric only")
    if scalar(277, 1) != 1:
        raise ValueError("TIFF decode supports 1 sample/pixel only")
    predictor = scalar(317, 1)
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    rps = scalar(278, height)
    offs, cnts = array(273), array(279)
    if len(offs) != len(cnts):
        raise ValueError("TIFF strip offset/count mismatch")
    pixels = bytearray()
    for i, (o, c) in enumerate(zip(offs, cnts)):
        if o + c > len(payload):
            raise ValueError("TIFF strip out of bounds")
        raw = payload[o : o + c]
        n_rows = min(rps, height - i * rps)
        if comp == 32773:
            raw = packbits_decode(raw, n_rows * width)
        elif comp == 5:
            raw = tiff_lzw_decode(raw, n_rows * width)
        elif len(raw) != n_rows * width:
            raise ValueError("TIFF strip size does not match dimensions")
        if predictor == 2:
            raw = _tiff_undiff_rows(raw, width)
        pixels.extend(raw)
    if len(pixels) != width * height:
        raise ValueError("TIFF strips do not cover the image")
    return {"width": width, "height": height, "pixels": bytes(pixels)}


def encode_gif(
    frames: list[tuple[int, int, int]],
    pixels: list[bytes] | None = None,
) -> bytes:
    """Minimal VALID animated GIF89a (public format spec: GIF89a,
    CompuServe 1990): header + logical screen descriptor + global color
    table, then per frame a Graphic Control Extension (delay in
    centiseconds) + Image Descriptor + LZW image data, then trailer.

    ``frames`` is a list of (width, height, delay_cs). ``pixels`` is an
    optional per-frame index field (one byte per pixel, values 0–3 over
    a 4-color table); None keeps the legacy solid color-0 field over a
    2-color table. Either way the stream compresses with the fixed-width
    LZW trick (emit a CLEAR code before every pixel code so the code
    table never grows — 3-bit codes throughout at min-code-size 2),
    which every conforming decoder accepts."""
    if not frames:
        raise ValueError("gif needs at least one frame")
    if pixels is not None and len(pixels) != len(frames):
        raise ValueError("pixels must align one field per frame")
    max_w = max(w for w, _, _ in frames)
    max_h = max(h for _, h, _ in frames)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", max_w, max_h)
    if pixels is None:
        out += bytes([0x80, 0, 0])  # GCT present, 2 entries; bg 0; aspect 0
        out += b"\x00\x00\x00\xff\xff\xff"  # global color table: black, white
    else:
        out += bytes([0x81, 0, 0])  # GCT present, 4 entries
        # 4-level gray ramp
        out += b"\x00\x00\x00\x55\x55\x55\xaa\xaa\xaa\xff\xff\xff"

    for k, (w, h, delay_cs) in enumerate(frames):
        if w <= 0 or h <= 0:
            raise ValueError("gif frame dimensions must be positive")
        field = pixels[k] if pixels is not None else bytes(w * h)
        if len(field) != w * h:
            raise ValueError(f"frame {k}: pixel field does not match dims")
        if pixels is not None and max(field) > 3:
            raise ValueError(f"frame {k}: index beyond the 4-color table")
        # Graphic Control Extension (delay rides here)
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
        # Image Descriptor at origin, no local color table
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        # LZW data: min code size 2 → 3-bit codes, clear=4, end=5
        codes: list[int] = []
        for px in field:
            codes.extend((4, px))  # CLEAR, pixel index
        codes.append(5)  # END
        buf, nbits, acc = bytearray(), 0, 0
        for code in codes:
            acc |= code << nbits
            nbits += 3
            while nbits >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            buf.append(acc & 0xFF)
        out.append(2)  # LZW minimum code size
        for i in range(0, len(buf), 255):
            block = buf[i : i + 255]
            out.append(len(block))
            out += block
        out.append(0)  # data sub-block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def encode_gif_gray(
    width: int, height: int, pixels: bytes, frames: list[bytes] | None = None
) -> bytes:
    """GIF89a with a 256-entry IDENTITY-GRAY global color table (entry
    i = (i, i, i)), so the LZW index field IS the grayscale pixel field
    byte for byte. Compression is the same fixed-width trick as
    :func:`encode_gif`, lifted to min-code-size 8: a CLEAR (256) before
    every pixel code keeps the table at its initial state, so every
    code is 9 bits and any conforming decoder accepts the stream. The
    r14 mixed-format perceptual-hash corpus uses this so one pixel
    field round-trips EXACTLY through a GIF container; pass ``frames``
    (each width×height) for an ANIMATED gray GIF — the fourth video
    container the fingerprint tier dedups (frame delay fixed 10 cs)."""
    fields = frames if frames is not None else [pixels]
    if width <= 0 or height <= 0:
        raise ValueError("gif frame dimensions must be positive")
    if not fields:
        raise ValueError("gif needs at least one frame")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    out += bytes([0x80 | 0x07, 0, 0])  # GCT present, 2^(7+1)=256 entries
    out += bytes(v for i in range(256) for v in (i, i, i))
    for k, field in enumerate(fields):
        if len(field) != width * height:
            raise ValueError(f"frame {k}: pixel buffer does not match dims")
        # Graphic Control Extension (animation delay)
        out += b"\x21\xf9\x04\x00" + struct.pack("<H", 10) + b"\x00\x00"
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
        codes: list[int] = []
        for px in field:
            codes.extend((256, px))  # CLEAR, pixel index (9-bit codes)
        codes.append(257)  # END
        buf, nbits, acc = bytearray(), 0, 0
        for code in codes:
            acc |= code << nbits
            nbits += 9
            while nbits >= 8:
                buf.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            buf.append(acc & 0xFF)
        out.append(8)  # LZW minimum code size
        for i in range(0, len(buf), 255):
            block = buf[i : i + 255]
            out.append(len(block))
            out += block
        out.append(0)  # data sub-block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def gif_global_palette(payload: bytes) -> list[tuple[int, int, int]]:
    """The GIF's global color table as (r, g, b) tuples (padded to 256
    entries), or the spec's black/white default when the stream carries
    none — the lookup :func:`~rippledb_engine.operators.imagehash.
    decode_image_pixels` needs to turn index fields into luminance."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad magic")
    packed = payload[10]
    pal: list[tuple[int, int, int]] = []
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if 13 + 3 * n > len(payload):
            raise ValueError("truncated GIF global color table")
        pal = [
            (payload[13 + 3 * i], payload[14 + 3 * i], payload[15 + 3 * i])
            for i in range(n)
        ]
    else:
        pal = [(0, 0, 0), (255, 255, 255)]
    while len(pal) < 256:
        pal.append((0, 0, 0))
    return pal


def gif_screen_info(payload: bytes) -> dict:
    """Logical Screen Descriptor fields the compositor needs: {width,
    height, bg_index, palette} where ``palette`` is the global color
    table as (r, g, b) tuples or None when the stream carries none —
    unlike :func:`gif_global_palette` this does NOT substitute the
    black/white default, so a caller can refuse rather than guess
    (r15: fingerprinting a palette it never saw violates the module's
    refuse-loudly contract)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad magic")
    width, height, packed, bg_index, _aspect = struct.unpack(
        "<HHBBB", payload[6:13]
    )
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if 13 + 3 * n > len(payload):
            raise ValueError("truncated GIF global color table")
        palette = [
            (payload[13 + 3 * i], payload[14 + 3 * i], payload[15 + 3 * i])
            for i in range(n)
        ]
    return {
        "width": width,
        "height": height,
        "bg_index": bg_index,
        "palette": palette,
    }


def _gif_lzw_fixed(field: bytes, min_code_size: int) -> bytes:
    """The fixed-width LZW trick shared by every encoder here (a CLEAR
    before each pixel code keeps the table at its initial state, so
    every code is min_code_size+1 bits and any conforming decoder
    accepts the stream), packaged as sub-blocks with the min-code-size
    prefix and terminator."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1
    codes: list[int] = []
    for px in field:
        codes.extend((clear, px))
    codes.append(end)
    buf, nbits, acc = bytearray(), 0, 0
    for code in codes:
        acc |= code << nbits
        nbits += min_code_size + 1
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    out = bytearray([min_code_size])
    for i in range(0, len(buf), 255):
        block = buf[i : i + 255]
        out.append(len(block))
        out += block
    out.append(0)
    return bytes(out)


def _gif_palette_bytes(palette: list[tuple[int, int, int]]) -> tuple[bytes, int]:
    """(flat rgb bytes, size-field exponent) for a color table whose
    length must be a power of two in 2..256 (the GIF size field stores
    the exponent)."""
    n = len(palette)
    if n < 2 or n > 256 or n & (n - 1):
        raise ValueError("gif color table length must be a power of 2 in 2..256")
    return bytes(v for rgb in palette for v in rgb), n.bit_length() - 2


def encode_gif_frames(
    width: int,
    height: int,
    frames: list[dict],
    global_palette: list[tuple[int, int, int]] | None = None,
    bg_index: int = 0,
) -> bytes:
    """GIF89a with the FULL per-frame compositing surface (r15 — the
    synthesizer for real-web GIF structure the fingerprint tier now
    composites): logical screen width×height, optional global color
    table, and per frame a dict {left, top, width, height, indices,
    local_palette, disposal, transparent_idx, delay_cs} — offsets and
    partial rects, a local color table overriding the global one,
    disposal methods 0-3, and GCE transparency. Compression is the
    fixed-width LZW trick at the palette's natural code size. Refuses
    structurally wrong input loudly (rect outside the screen, index
    beyond the frame's table, no table anywhere)."""
    if width <= 0 or height <= 0:
        raise ValueError("gif logical screen dimensions must be positive")
    if not frames:
        raise ValueError("gif needs at least one frame")
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", width, height)
    if global_palette is not None:
        flat, exp = _gif_palette_bytes(global_palette)
        out += bytes([0x80 | exp, bg_index, 0])
        out += flat
    else:
        out += bytes([0x00, bg_index, 0])
    for k, fr in enumerate(frames):
        left, top = fr.get("left", 0), fr.get("top", 0)
        w, h = fr["width"], fr["height"]
        if w <= 0 or h <= 0:
            raise ValueError(f"frame {k}: dimensions must be positive")
        if left + w > width or top + h > height:
            raise ValueError(f"frame {k}: rect exceeds the logical screen")
        field = fr["indices"]
        if len(field) != w * h:
            raise ValueError(f"frame {k}: index field does not match dims")
        local = fr.get("local_palette")
        pal = local if local is not None else global_palette
        if pal is None:
            raise ValueError(f"frame {k}: no local table and no global table")
        if field and max(field) >= len(pal):
            raise ValueError(f"frame {k}: index beyond the color table")
        disposal = fr.get("disposal", 0)
        if not 0 <= disposal <= 3:
            raise ValueError(f"frame {k}: disposal {disposal} out of range")
        tidx = fr.get("transparent_idx")
        gce_packed = (disposal << 2) | (1 if tidx is not None else 0)
        out += bytes([0x21, 0xF9, 0x04, gce_packed])
        out += struct.pack("<H", fr.get("delay_cs", 10))
        out += bytes([tidx if tidx is not None else 0, 0x00])
        if local is not None:
            flat, exp = _gif_palette_bytes(local)
            out += b"\x2c" + struct.pack("<HHHH", left, top, w, h)
            out += bytes([0x80 | exp])
            out += flat
        else:
            out += b"\x2c" + struct.pack("<HHHH", left, top, w, h) + b"\x00"
        # natural code size for the frame's table (≥2 per spec)
        mcs = max(2, (len(pal) - 1).bit_length())
        out += _gif_lzw_fixed(field, mcs)
    out.append(0x3B)
    return bytes(out)


def decode_gif_frames(payload: bytes) -> list[dict]:
    """Structural frame walk of a GIF87a/89a stream → one dict per frame:
    {frame_no, left, top, width, height, delay_cs, data} where ``data``
    is the frame's still-LZW-compressed bytes. Pure block walk (image
    descriptors + extension sub-block skipping) — frame metadata never
    needs pixel decompression. Raises ValueError on structural
    violations (bad magic, truncated blocks, unknown introducers)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF: bad magic")
    pos = 6
    _, _, packed, _, _ = struct.unpack("<HHBBB", payload[pos : pos + 7])
    pos += 7
    if packed & 0x80:
        pos += 3 * (2 << (packed & 0x07))  # global color table

    def sub_blocks(p: int) -> tuple[bytes, int]:
        chunks = []
        while True:
            if p >= len(payload):
                raise ValueError("truncated GIF sub-blocks")
            n = payload[p]
            p += 1
            if n == 0:
                return b"".join(chunks), p
            if p + n > len(payload):
                raise ValueError("truncated GIF sub-block")
            chunks.append(payload[p : p + n])
            p += n

    frames: list[dict] = []
    delay_cs, disposal, transparent_idx = 0, 0, None
    while True:
        if pos >= len(payload):
            raise ValueError("GIF missing trailer")
        intro = payload[pos]
        pos += 1
        if intro == 0x3B:  # trailer
            return frames
        if intro == 0x21:  # extension
            if pos >= len(payload):
                raise ValueError("truncated GIF extension")
            label = payload[pos]
            pos += 1
            body, pos = sub_blocks(pos)
            if label == 0xF9 and len(body) >= 3:  # Graphic Control
                (delay_cs,) = struct.unpack("<H", body[1:3])
                disposal = (body[0] >> 2) & 0x07
                transparent_idx = (
                    body[3] if len(body) >= 4 and body[0] & 0x01 else None
                )
            continue
        if intro == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("truncated GIF image descriptor")
            left, top, w, h, ipacked = struct.unpack(
                "<HHHHB", payload[pos : pos + 9]
            )
            pos += 9
            local_palette = None
            if ipacked & 0x80:
                n = 2 << (ipacked & 0x07)
                if pos + 3 * n > len(payload):
                    raise ValueError("truncated GIF local color table")
                # r15: exposed instead of skipped — a frame's indices map
                # through ITS table, not the global one; dropping it made
                # wrong-but-plausible luma (the r14 ADVICE finding)
                local_palette = [
                    (
                        payload[pos + 3 * i],
                        payload[pos + 3 * i + 1],
                        payload[pos + 3 * i + 2],
                    )
                    for i in range(n)
                ]
                pos += 3 * n
            if pos >= len(payload):
                raise ValueError("truncated GIF image data")
            min_code_size = payload[pos]
            pos += 1
            data, pos = sub_blocks(pos)
            frames.append(
                {
                    "frame_no": len(frames),
                    "left": left,
                    "top": top,
                    "width": w,
                    "height": h,
                    "delay_cs": delay_cs,
                    "disposal": disposal,
                    "transparent_idx": transparent_idx,
                    "local_palette": local_palette,
                    "min_code_size": min_code_size,
                    "interlace": bool(ipacked & 0x40),
                    "data": data,
                }
            )
            # GCE state applies to the one following image
            delay_cs, disposal, transparent_idx = 0, 0, None
            continue
        raise ValueError(f"unknown GIF block introducer 0x{intro:02x}")


def decode_gif_lzw(data: bytes, min_code_size: int) -> bytes:
    """GIF variable-width LZW decompression (GIF89a spec, Appendix F) →
    one byte per pixel (color-table INDEX, palette mapping is the
    caller's concern). The general decoder: LSB-first bit packing,
    CLEAR/END codes, code-table growth with width escalation capped at
    12 bits, and the KwKwK (code == next slot) case. Raises ValueError
    on truncation or out-of-range codes — a mis-framed stream must never
    silently yield a short pixel field."""
    if not 1 <= min_code_size <= 11:
        raise ValueError(f"bad GIF LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def fresh() -> list[bytes]:
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    acc = nbits = pos = 0
    prev: bytes | None = None
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                raise ValueError("truncated GIF LZW stream (no END code)")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = fresh()
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW first code after CLEAR not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"GIF LZW code {code} out of range")
        out += entry
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1


def deinterlace_gif(pix: bytes, width: int, height: int) -> bytes:
    """Reorder an interlaced frame's rows into display order (GIF89a
    four-pass interlace: rows 0,8,16… then 4,12… then 2,6… then 1,3…)."""
    rows = [pix[r * width : (r + 1) * width] for r in range(height)]
    order = (
        list(range(0, height, 8))
        + list(range(4, height, 8))
        + list(range(2, height, 4))
        + list(range(1, height, 2))
    )
    out: list[bytes] = [b""] * height
    for src_r, dst_r in enumerate(order):
        out[dst_r] = rows[src_r]
    return b"".join(out)


def decode_gif_pixels(payload: bytes, every_n: int = 1) -> list[dict]:
    """Frame walk + REAL pixel decode: every ``every_n``-th frame's LZW
    stream decompressed to its index field (deinterlaced if flagged).
    Each dict is decode_gif_frames's plus ``pixels`` (exactly
    width×height index bytes — a length mismatch raises, short pixel
    fields must not pass silently)."""
    out: list[dict] = []
    for fr in decode_gif_frames(payload)[::every_n]:
        pix = decode_gif_lzw(fr["data"], fr["min_code_size"])
        n = fr["width"] * fr["height"]
        if len(pix) != n:
            raise ValueError(
                f"GIF frame {fr['frame_no']}: {len(pix)} pixels decoded, "
                f"descriptor says {n}"
            )
        if fr["interlace"]:
            pix = deinterlace_gif(pix, fr["width"], fr["height"])
        out.append({**fr, "pixels": pix})
    return out


# ---------------------------------------------------------------------------
# Synthesis (test stand-in for reading real media files)
# ---------------------------------------------------------------------------


def synth_dims(media_id: int) -> tuple[int, int]:
    """Deterministic synthetic PNG dimensions for ``media_id`` — id
    arithmetic only, so a SQL oracle can recompute them."""
    return 4 + media_id % 13, 3 + media_id % 7


def synth_audio(media_id: int) -> tuple[int, int]:
    """Deterministic synthetic WAV (sample_rate, n_samples) — id
    arithmetic only, SQL-recomputable."""
    return 8000 + (media_id % 8) * 1000, 16 + media_id % 49


def synth_gif_frames(media_id: int) -> list[tuple[int, int, int]]:
    """Deterministic synthetic GIF frame plan for ``media_id`` — id
    arithmetic only (frame count, per-frame dims, per-frame delay), so a
    SQL oracle can recompute every field the frame walk reports."""
    n = 1 + media_id % 5
    return [
        (2 + (media_id + k) % 6, 2 + (media_id + k) % 4, 10 * (k + 1))
        for k in range(n)
    ]


def synthesize_gifs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL animated GIF payloads with
    id-deterministic frame structure (synth_gif_frames); built per-batch
    in mapInPandas like synthesize_media."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                encode_gif(synth_gif_frames(int(mid))) for mid in pdf["media_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/gif",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_gif_pixels(media_id: int, frame_no: int, width: int, height: int) -> bytes:
    """Deterministic per-frame GIF index field — pure id arithmetic
    (idx[p] = (31*id + 5*frame + 7*p) mod 4), so a SQL oracle can
    recompute any pixel of any frame, and therefore any pixel of a
    nearest-neighbor resample, in closed form (synth_pattern_pixels'
    convention, lifted to the frame dimension)."""
    return bytes(
        (31 * media_id + 5 * frame_no + 7 * p) % 4 for p in range(width * height)
    )


def synthesize_pattern_gifs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL animated GIFs whose pixel
    CONTENT (not just frame structure) is id-deterministic
    (synth_gif_pixels × synth_gif_frames); built per-batch in
    mapInPandas like synthesize_gifs."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                frames = synth_gif_frames(mid)
                fields = [
                    synth_gif_pixels(mid, k, w, h)
                    for k, (w, h, _) in enumerate(frames)
                ]
                payloads.append(encode_gif(frames, pixels=fields))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/gif",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_pattern_pixels(media_id: int, width: int, height: int) -> bytes:
    """Deterministic grayscale pixel field — pure id arithmetic
    (pix[k] = (31*id + 7*k) mod 256), so a SQL oracle can recompute any
    pixel of the ORIGINAL image, and therefore any pixel of a
    nearest-neighbor resample, in closed form."""
    return bytes((31 * media_id + 7 * k) % 256 for k in range(width * height))


def synthesize_pattern_pngs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL grayscale PNGs whose pixel
    CONTENT (not just container structure) is id-deterministic
    (synth_pattern_pixels × synth_dims); built per-batch in mapInPandas
    like synthesize_media."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = synth_dims(mid)
                payloads.append(encode_png(w, h, synth_pattern_pixels(mid, w, h)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synthesize_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Turn a text table into a media table with REAL binary payloads:
    even ids become valid PNGs (pixels from the text bytes), odd ids valid
    PCM WAVs (samples from the text bytes). Container structure is
    id-deterministic (synth_dims/synth_audio) so decoded features are
    oracle-checkable; built per-batch in mapInPandas (zlib runs where the
    data lives, not on the driver)."""
    import pandas as pd

    src = spread_media_ids(
        df.select(
            F.col(id_col).cast("long").alias("media_id"),
            F.col(text_col).cast("string").alias("text"),
        )
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, types = [], []
            for mid, text in zip(pdf["media_id"], pdf["text"]):
                mid = int(mid)
                data = (text or "").encode()
                if mid % 2 == 0:
                    w, h = synth_dims(mid)
                    payloads.append(encode_png(w, h, data))
                    types.append("image/png")
                else:
                    rate, n = synth_audio(mid)
                    samples = ((data or b"\x00") * (2 * n // max(len(data), 1) + 1))[
                        : 2 * n
                    ]
                    payloads.append(encode_wav(rate, samples))
                    types.append("audio/wav")
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads, "media_type": types}
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Feature extraction / frame sampling
# ---------------------------------------------------------------------------


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("delay_cs", T.IntegerType()),
    ]
)


def sample_frames(media: DataFrame, every_n: int = 4, resize_to: int = 64) -> DataFrame:
    """Frame sampling — 1→N row expansion via mapInPandas (NOT a
    driver-side loop; each batch expands inside its task, so a 100 TB
    media corpus fans out by partition).

    ``image/gif`` payloads are REAL (r6): the GIF87a/89a block walk
    (decode_gif_frames) yields every frame's actual image-descriptor
    dimensions, graphic-control delay, and still-compressed frame bytes;
    ``every_n`` samples frame indices 0, n, 2n, ….

    Other media types keep the documented byte-stride STUB (real video
    codecs aren't in this container): "frames" are deterministic 16-byte
    slices, ``resize_to`` rewrites metadata, delay is null — the plumbing
    (schema, batching, row expansion, binary handling) is the production
    shape; swap the slicing for a codec call to go live.
    """
    import pandas as pd

    cols = ("media_id", "frame_no", "frame_bytes", "width", "height", "delay_cs")

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                data = bytes(payload)
                if mtype == "image/gif":
                    for fr in decode_gif_frames(data)[::every_n]:
                        out["media_id"].append(mid)
                        out["frame_no"].append(fr["frame_no"])
                        out["frame_bytes"].append(fr["data"])
                        out["width"].append(fr["width"])
                        out["height"].append(fr["height"])
                        out["delay_cs"].append(fr["delay_cs"])
                    continue
                # stub "frames": 16-byte strides standing in for decoded frames
                n_frames = max(1, len(data) // 16)
                for frame_no in range(0, n_frames, every_n):
                    chunk = data[frame_no * 16 : frame_no * 16 + 16]
                    out["media_id"].append(mid)
                    out["frame_no"].append(frame_no)
                    out["frame_bytes"].append(chunk)
                    out["width"].append(resize_to)
                    out["height"].append(resize_to)
                    out["delay_cs"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(batch_fn, schema=FRAME_SCHEMA)


FRAME_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("resized_wsum", T.LongType()),
    ]
)


def gif_frame_pixel_stats(
    media: DataFrame, every_n: int = 2, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """REAL per-frame pixel decode (r7 — closes the GIF half of the
    former pixel stub): sample every ``every_n``-th frame, LZW-decompress
    its index field (decode_gif_pixels: variable-width codes, KwKwK,
    deinterlace), feed resize_nearest, and emit closed-form digests —
    the raw field's index sum and the position-weighted sum of the
    out_w×out_h resample (weight i·out_w+j+1, so any pixel REORDERING
    changes it). 1→N row expansion inside Arrow ``mapInPandas``, the
    sample_frames shape — no driver loop, fans out by partition."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in FRAME_PIXEL_SCHEMA.fields]
    weights = np.arange(1, out_w * out_h + 1, dtype=np.int64)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for fr in decode_gif_pixels(bytes(payload), every_n=every_n):
                    idx = np.frombuffer(fr["pixels"], dtype=np.uint8)
                    resized = np.frombuffer(
                        resize_nearest(
                            fr["width"], fr["height"], fr["pixels"], out_w, out_h
                        ),
                        dtype=np.uint8,
                    ).astype(np.int64)
                    rows.append(
                        (
                            int(mid),
                            fr["frame_no"],
                            fr["width"],
                            fr["height"],
                            int(idx.size),
                            int(idx.sum()),
                            int((weights * resized).sum()),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=FRAME_PIXEL_SCHEMA
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("decode_ok", T.BooleanType()),
        T.StructField("src_width", T.IntegerType()),
        T.StructField("src_height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("pixel_wsum", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(media: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """REAL image resize over binary PNG payloads (r6 — the former
    pixel-level stub): per row, the full decode pipeline (chunk walk →
    CRC → zlib inflate → unfilter) → nearest-neighbor resample → PNG
    re-encode, inside Arrow-batched ``mapInPandas`` where the bytes
    live. Emits the resized payload plus two pixel digests the oracle
    can recompute in closed form for pattern-synthesized inputs:
    ``pixel_sum`` = Σ pix and ``pixel_wsum`` = Σ (i*out_w+j+1)·pix —
    the weighted form catches pixel REORDERING that a plain sum would
    miss. Corrupt/unsupported payloads survive as ``decode_ok`` = false
    rows (corpus-scale contract: filterable fact, not task failure)."""
    import pandas as pd

    cols = [f.name for f in RESIZE_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        weights = np.arange(1, out_w * out_h + 1, dtype=np.int64)
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                row = dict.fromkeys(cols, None)
                row["media_id"] = mid
                try:
                    w, h, px = decode_png_pixels(bytes(payload))
                    rs = resize_nearest(w, h, px, out_w, out_h)
                    arr = np.frombuffer(rs, dtype=np.uint8).astype(np.int64)
                    row.update(
                        decode_ok=True,
                        src_width=w,
                        src_height=h,
                        width=out_w,
                        height=out_h,
                        pixel_sum=int(arr.sum()),
                        pixel_wsum=int((arr * weights).sum()),
                        payload=encode_png(out_w, out_h, rs),
                    )
                except ValueError:
                    row["decode_ok"] = False
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(batch_fn, schema=RESIZE_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL feature extraction over binary payloads: PNG
    IHDR fields for images, RIFF/fmt/data fields for audio (the stdlib
    decoders above). A structurally invalid payload does not kill the job:
    its row survives with ``decode_ok`` = false and NULL typed fields —
    the corpus-scale contract (one corrupt file among billions must be a
    filterable fact, not a task failure).

    ``mapInPandas`` processes partition-sized record batches — the pattern
    for any per-item decode: no collect, no per-row Python UDF overhead,
    schema declared up front.
    """
    import pandas as pd

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {name.name: [] for name in FEATURE_SCHEMA.fields}
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                data = bytes(payload)
                row = dict.fromkeys(out, None)
                row["media_id"] = mid
                row["media_type"] = mtype
                row["n_bytes"] = len(data)
                row["checksum"] = hashlib.md5(data).hexdigest()
                try:
                    if mtype == "image/png":
                        w, h, depth, _ = decode_png_header(data)
                        row.update(width=w, height=h, bit_depth=depth)
                    elif mtype == "audio/wav":
                        rate, _, bits, n = decode_wav_header(data)
                        row.update(bit_depth=bits, sample_rate=rate, n_samples=n)
                    else:
                        raise ValueError(f"unknown media type {mtype!r}")
                    row["decode_ok"] = True
                except ValueError:
                    row["decode_ok"] = False
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(batch_fn, schema=FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# AVI (r8 — the video half of the multimodal tier goes real for the codecs
# a stdlib parser can own: uncompressed 8-bit DIB frames and BI_RLE8).
# Public format specs: Microsoft "AVI RIFF File Reference" (the RIFF/hdrl/
# movi layout — the WAV decoder's sibling container) and the Windows BMP
# spec's RLE8 compression (runs, absolute mode, end-of-line/bitmap, delta).
# Modern codecs (H.264/VP9…) still genuinely need codec libraries and stay
# stubbed; the container walk, stream headers, and frame extraction below
# are the same code path they would feed.
# ---------------------------------------------------------------------------


def rle8_encode_frame(width: int, height: int, rows_bottom_up: list[bytes]) -> bytes:
    """BI_RLE8-encode a frame (rows already bottom-up, unpadded): maximal
    ≤255-byte runs per row, 00 00 end-of-line after every row but the
    last, 00 01 end-of-bitmap. (The decoder additionally handles absolute
    and delta modes; this encoder never needs them — runs cover any
    byte row.)"""
    out = bytearray()
    for r, row in enumerate(rows_bottom_up):
        i = 0
        while i < len(row):
            v = row[i]
            n = 1
            while i + n < len(row) and n < 255 and row[i + n] == v:
                n += 1
            out += bytes((n, v))
            i += n
        if r < height - 1:
            out += b"\x00\x00"
    out += b"\x00\x01"
    return bytes(out)


def rle8_decode_frame(data: bytes, width: int, height: int) -> list[bytes]:
    """Decode a BI_RLE8 stream → ``height`` bottom-up rows of ``width``
    bytes. Implements the FULL public spec: encoded runs, absolute mode
    (00 n≥3, word-aligned), end-of-line (00 00), end-of-bitmap (00 01),
    and delta (00 02 dx dy — skipped cells read 0, like an uncovered
    BMP region). Raises ValueError on overruns or truncation."""
    rows = [bytearray(width) for _ in range(height)]
    x = y = pos = 0
    while True:
        if pos + 2 > len(data):
            raise ValueError("truncated RLE8 stream (no end-of-bitmap)")
        b0, b1 = data[pos], data[pos + 1]
        pos += 2
        if b0 > 0:  # encoded run
            if y >= height or x + b0 > width:
                raise ValueError("RLE8 run overflows the frame")
            rows[y][x : x + b0] = bytes((b1,)) * b0
            x += b0
        elif b1 == 0:  # end of line
            x, y = 0, y + 1
        elif b1 == 1:  # end of bitmap
            return [bytes(r) for r in rows]
        elif b1 == 2:  # delta
            if pos + 2 > len(data):
                raise ValueError("truncated RLE8 delta")
            x, y = x + data[pos], y + data[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError("RLE8 delta leaves the frame")
        else:  # absolute mode: b1 literal bytes, word-aligned
            n = b1
            if pos + n > len(data):
                raise ValueError("truncated RLE8 absolute run")
            if y >= height or x + n > width:
                raise ValueError("RLE8 absolute run overflows the frame")
            rows[y][x : x + n] = data[pos : pos + n]
            x += n
            pos += n + (n & 1)


def _dib_pad(width: int) -> int:
    return (-width) % 4  # DIB rows pad to 4-byte boundaries


def encode_bmp(
    width: int,
    height: int,
    indices: bytes,
    palette: list[tuple[int, int, int]],
    rle8: bool = False,
    topdown: bool = False,
) -> bytes:
    """Minimal VALID 8-bit paletted BMP (the Windows DIB file format —
    BITMAPFILEHEADER + BITMAPINFOHEADER + 256×BGRA palette + pixel
    field): ``indices`` is the TOP-DOWN logical pixel field; storage is
    bottom-up padded rows (BI_RGB), top-down via negative biHeight, or
    a BI_RLE8 stream (always bottom-up, per spec)."""
    if len(indices) != width * height:
        raise ValueError("pixel buffer does not match dimensions")
    if len(palette) != 256:
        raise ValueError("8-bit BMP needs a 256-entry palette")
    if rle8 and topdown:
        raise ValueError("BI_RLE8 BMPs are always bottom-up (spec)")
    rows_td = [indices[y * width : (y + 1) * width] for y in range(height)]
    if rle8:
        pix = rle8_encode_frame(width, height, rows_td[::-1])
    else:
        pad = b"\x00" * _dib_pad(width)
        stored = rows_td if topdown else rows_td[::-1]
        pix = b"".join(r + pad for r in stored)
    pal = b"".join(bytes((b, g, r, 0)) for r, g, b in palette)
    off = 14 + 40 + len(pal)
    info = struct.pack(
        "<IiiHHIIiiII",
        40, width, -height if topdown else height, 1, 8,
        1 if rle8 else 0, len(pix), 2835, 2835, 256, 0,
    )
    head = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
    return head + info + pal + pix


def decode_bmp(payload: bytes) -> dict:
    """8-bit paletted BMP decode → {"width", "height", "indices",
    "palette"}: ``indices`` is TOP-DOWN regardless of storage order
    (bottom-up BI_RGB, top-down negative-height, or BI_RLE8 via the
    shared AVI decoder). Other bit depths/compressions refuse loudly."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP: bad magic")
    (off,) = struct.unpack_from("<I", payload, 10)
    size, width, raw_h, planes, bits, comp = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if size < 40:
        raise ValueError(f"unsupported BMP header size {size}")
    if bits != 8:
        raise ValueError(f"BMP decode supports 8-bit palette, got {bits}")
    if comp not in (0, 1):
        raise ValueError(f"unsupported BMP compression {comp}")
    topdown = raw_h < 0
    height = -raw_h if topdown else raw_h
    if comp == 1 and topdown:
        raise ValueError("BI_RLE8 BMP cannot be top-down")
    (n_colors,) = struct.unpack_from("<I", payload, 46)
    n_colors = n_colors or 256
    pal_at = 14 + size
    if pal_at + 4 * n_colors > len(payload):
        raise ValueError("BMP palette out of bounds")
    palette = [
        (payload[pal_at + 4 * i + 2], payload[pal_at + 4 * i + 1],
         payload[pal_at + 4 * i])
        for i in range(n_colors)
    ]
    while len(palette) < 256:
        palette.append((0, 0, 0))
    pix = payload[off:]
    if comp == 1:
        rows_bu = rle8_decode_frame(pix, width, height)
        rows_td = rows_bu[::-1]
    else:
        stride = width + _dib_pad(width)
        if len(pix) < stride * height:
            raise ValueError("BMP pixel field truncated")
        stored = [
            pix[y * stride : y * stride + width] for y in range(height)
        ]
        rows_td = stored if topdown else stored[::-1]
    return {
        "width": width,
        "height": height,
        "indices": b"".join(rows_td),
        "palette": palette,
    }


def encode_avi(
    width: int,
    height: int,
    frames: list[bytes],
    us_per_frame: int = 40000,
    rle: bool = False,
    codec: str | None = None,
) -> bytes:
    """Minimal VALID AVI ('AVI RIFF File Reference' layout): RIFF/AVI →
    LIST hdrl (avih + one 'vids' LIST strl with strh + BITMAPINFOHEADER
    strf and a 256-entry grayscale palette) → LIST movi with one chunk
    per frame. ``codec`` (overrides the legacy ``rle`` flag):

    - ``"dib"``  — '00db' uncompressed bottom-up padded DIB;
    - ``"rle8"`` — '00dc' BI_RLE8;
    - ``"mjpg"`` — '00dc' baseline-JPEG frames (operators/jpeg.py), the
      MJPEG stream layout (fourcc/biCompression 'MJPG'; frames are
      top-down JPEG raster — no DIB flip, no palette semantics, still
      declared 8-bit grayscale).

    ``frames`` are row-major TOP-DOWN 8-bit grayscale buffers of exactly
    width×height bytes (the natural orientation; any flip happens
    here)."""
    if codec is None:
        codec = "rle8" if rle else "dib"
    if codec not in ("dib", "rle8", "mjpg"):
        raise ValueError(f"unknown AVI codec {codec!r}")
    if width <= 0 or height <= 0 or not frames:
        raise ValueError("AVI needs positive dims and at least one frame")
    for f in frames:
        if len(f) != width * height:
            raise ValueError("frame buffer does not match dimensions")

    def lst(kind: bytes, body: bytes) -> bytes:
        return b"LIST" + struct.pack("<I", 4 + len(body)) + kind + body

    def chunk(tag: bytes, body: bytes) -> bytes:
        return tag + struct.pack("<I", len(body)) + body + (b"\x00" * (len(body) & 1))

    pad = _dib_pad(width)
    movi_chunks: list[bytes] = []
    for f in frames:
        if codec == "mjpg":
            from rippledb_engine.operators.jpeg import encode_jpeg_gray

            movi_chunks.append(chunk(b"00dc", encode_jpeg_gray(width, height, f)))
            continue
        rows_bu = [
            f[r * width : (r + 1) * width] for r in range(height - 1, -1, -1)
        ]
        if codec == "rle8":
            movi_chunks.append(
                chunk(b"00dc", rle8_encode_frame(width, height, rows_bu))
            )
        else:
            movi_chunks.append(
                chunk(b"00db", b"".join(r + b"\x00" * pad for r in rows_bu))
            )
    max_buf = max(len(c) - 8 for c in movi_chunks)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, 0, 0, 0x10, len(frames), 0, 1, max_buf,
        width, height, 0, 0, 0, 0,
    )
    # AVIStreamHeader after the two FOURCCs: flags, priority, language,
    # initialFrames, scale, rate, start, length, suggestedBuffer,
    # quality (signed; -1 = default), sampleSize, rcFrame(4×int16)
    handler = {"dib": b"DIB ", "rle8": b"RLE8", "mjpg": b"MJPG"}[codec]
    strh = (
        b"vids" + handler
        + struct.pack(
            "<IHHIIIIIIiI4h",
            0, 0, 0, 0, us_per_frame, 1_000_000, 0, len(frames), max_buf,
            -1, 0, 0, 0, min(width, 2**15 - 1), min(height, 2**15 - 1),
        )
    )
    # biCompression: 0 = BI_RGB, 1 = BI_RLE8, fourcc 'MJPG' for MJPEG
    bi_comp = {"dib": 0, "rle8": 1, "mjpg": struct.unpack("<I", b"MJPG")[0]}[codec]
    bmih = struct.pack(
        "<IiiHHIIiiII",
        40, width, height, 1, 8, bi_comp,
        sum(len(c) - 8 for c in movi_chunks), 0, 0, 256, 0,
    )
    palette = b"".join(bytes((g, g, g, 0)) for g in range(256))
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", bmih + palette)),
    )
    movi = lst(b"movi", b"".join(movi_chunks))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi_frames(payload: bytes) -> dict:
    """RIFF walk of an AVI → header metadata + REAL decoded frames:
    {width, height, us_per_frame, n_frames, compression
    ('rgb'|'rle8'|'mjpg'), frames: [top-down row-major 8-bit grayscale
    bytes]}. Handles uncompressed bottom-up padded DIB ('00db',
    biCompression 0), BI_RLE8 ('00dc', biCompression 1), and MJPEG
    ('00dc' baseline-JPEG frames, biCompression fourcc 'MJPG' —
    operators/jpeg.py does the Huffman+DCT work, r8); any other
    biCompression raises — H.264/VP9 etc. genuinely need codec
    libraries (the documented stub). Raises ValueError on structural
    violations (bad magic, missing hdrl/strf/movi, truncated chunks,
    frame-size mismatches)."""
    if (
        len(payload) < 12
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"AVI "
    ):
        raise ValueError("not an AVI: bad RIFF/AVI magic")

    us_per_frame = width = height = bits = None
    compression = None
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal us_per_frame, width, height, bits, compression
        while pos + 8 <= end:
            tag = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            if pos + 8 + size > end:
                raise ValueError(f"truncated AVI chunk {tag!r}")
            body_at = pos + 8
            if tag == b"LIST":
                walk(body_at + 4, body_at + size)  # skip the list kind
            elif tag == b"avih":
                if size < 4:
                    raise ValueError("AVI avih chunk too short")
                (us_per_frame,) = struct.unpack(
                    "<I", payload[body_at : body_at + 4]
                )
            elif tag == b"strf" and width is None:
                if size < 20:
                    raise ValueError("AVI strf/BITMAPINFOHEADER too short")
                _, width, height, _, bits, comp = struct.unpack(
                    "<IiiHHI", payload[body_at : body_at + 20]
                )
                if bits != 8:
                    raise ValueError(f"only 8-bit DIB frames supported, got {bits}")
                if comp == 0:
                    compression = "rgb"
                elif comp == 1:
                    compression = "rle8"
                elif comp == struct.unpack("<I", b"MJPG")[0]:
                    compression = "mjpg"
                else:
                    raise ValueError(
                        f"biCompression {comp}: real video codecs need codec"
                        " libraries (documented stub)"
                    )
            elif tag[2:4] in (b"db", b"dc") and tag[:2].isdigit():
                frames.append(payload[body_at : body_at + size])
            pos = body_at + size + (size & 1)  # RIFF chunks are word-aligned

    walk(12, len(payload))
    if width is None or compression is None:
        raise ValueError("AVI missing strf/BITMAPINFOHEADER")
    if us_per_frame is None:
        raise ValueError("AVI missing avih header")
    top_down = height < 0  # negative biHeight = top-down DIB, per the spec
    height = abs(height)

    out_frames: list[bytes] = []
    pad = _dib_pad(width)
    stride = width + pad
    for i, data in enumerate(frames):
        if compression == "mjpg":
            from rippledb_engine.operators.jpeg import decode_jpeg_gray

            w2, h2, pix = decode_jpeg_gray(bytes(data))
            if (w2, h2) != (width, height):
                raise ValueError(
                    f"AVI frame {i}: JPEG is {w2}x{h2}, strf says"
                    f" {width}x{height}"
                )
            out_frames.append(pix)  # JPEG raster is already top-down
            continue
        if compression == "rgb":
            if len(data) != stride * height:
                raise ValueError(
                    f"AVI frame {i}: {len(data)} bytes, expected {stride * height}"
                )
            rows = [
                data[r * stride : r * stride + width] for r in range(height)
            ]
            if not top_down:
                rows.reverse()
        else:
            rows = rle8_decode_frame(data, width, height)
            rows.reverse()  # RLE8 streams are always bottom-up
        out_frames.append(b"".join(rows))
    return {
        "width": width,
        "height": height,
        "us_per_frame": us_per_frame,
        "compression": compression,
        "n_frames": len(out_frames),
        "frames": out_frames,
    }


def synth_avi_dims(media_id: int) -> tuple[int, int, int, int]:
    """Id-deterministic AVI shape: (width, height, n_frames,
    us_per_frame) — closed-form for the oracle."""
    return (
        4 + media_id % 5,
        3 + media_id % 3,
        1 + media_id % 4,
        40000 + 100 * (media_id % 7),
    )


def synth_avi_pixels(media_id: int, frame_no: int, width: int, height: int) -> bytes:
    """Deterministic per-frame grayscale field — pure id arithmetic with
    length-3 runs (pix[p] = (31·id + 11·frame + 7·(p//3)) mod 256), so a
    SQL oracle recomputes any pixel in closed form AND the RLE8 encoder
    has real runs to compress (a run-free field would degenerate to
    byte-per-byte runs and test nothing about run reassembly)."""
    return bytes(
        (31 * media_id + 11 * frame_no + 7 * (p // 3)) % 256
        for p in range(width * height)
    )


def synthesize_avis(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL AVI videos whose frame pixel
    CONTENT is id-deterministic (synth_avi_pixels × synth_avi_dims).
    Even ids get uncompressed '00db' DIB frames, odd ids BI_RLE8 '00dc'
    — one corpus exercises both decode paths. Built per-batch in
    mapInPandas like the PNG/GIF synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, nf, uspf = synth_avi_dims(mid)
                payloads.append(
                    encode_avi(
                        w,
                        h,
                        [synth_avi_pixels(mid, f, w, h) for f in range(nf)],
                        us_per_frame=uspf,
                        rle=bool(mid % 2),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/x-msvideo",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


AVI_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("us_per_frame", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("resized_wsum", T.LongType()),
    ]
)


def avi_frame_pixel_stats(
    media: DataFrame, every_n: int = 2, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """REAL per-frame video pixel decode (r8): RIFF-walk each AVI, decode
    every ``every_n``-th frame's DIB/RLE8 pixel field, feed the SAME
    resize_nearest as the PNG/GIF paths, and emit closed-form digests —
    raw pixel sum and the position-weighted sum of the out_w×out_h
    resample (weight i·out_w+j+1, so any pixel REORDERING changes it).
    1→N row expansion inside Arrow ``mapInPandas``, the
    gif_frame_pixel_stats shape — no driver loop, fans out by
    partition."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in AVI_FRAME_SCHEMA.fields]
    weights = np.arange(1, out_w * out_h + 1, dtype=np.int64)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                v = decode_avi_frames(bytes(payload))
                w, h = v["width"], v["height"]
                for f in range(0, v["n_frames"], every_n):
                    pix = v["frames"][f]
                    raw = np.frombuffer(pix, dtype=np.uint8)
                    resized = np.frombuffer(
                        resize_nearest(w, h, pix, out_w, out_h), dtype=np.uint8
                    ).astype(np.int64)
                    rows.append(
                        (
                            int(mid),
                            f,
                            w,
                            h,
                            int(v["us_per_frame"]),
                            int(raw.size),
                            int(raw.sum()),
                            int((weights * resized).sum()),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=AVI_FRAME_SCHEMA
    )


def synth_mjpeg_dims(media_id: int) -> tuple[int, int, int, int]:
    """Id-deterministic MJPEG shape: (width, height, n_frames,
    us_per_frame); dims are 8-multiples so frames are block-aligned."""
    return (
        8 * (1 + media_id % 3),
        8 * (1 + media_id % 2),
        1 + media_id % 3,
        33000 + 100 * (media_id % 5),
    )


def synth_mjpeg_pixels(media_id: int, frame_no: int, width: int, height: int) -> bytes:
    """Deterministic BLOCK-CONSTANT grayscale field — constant on each
    8×8 JPEG block (val(b) = (37·id + 17·frame + 11·b) mod 256, b the
    row-major block index): exactly the content class where baseline
    JPEG is numerically lossless with a unit quant table (only the DC
    coefficient is nonzero and it is an exact integer — operators/
    jpeg.py module docstring), so a SQL oracle can recompute every
    decoded pixel in closed form despite the codec being lossy in
    general."""
    bw = width // 8
    return bytes(
        (37 * media_id + 17 * frame_no + 11 * ((y // 8) * bw + (x // 8))) % 256
        for y in range(height)
        for x in range(width)
    )


def synthesize_mjpeg_avis(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL MJPEG videos (AVI container,
    baseline-JPEG frames) whose pixel content is id-deterministic and
    block-constant (synth_mjpeg_pixels × synth_mjpeg_dims); built
    per-batch in mapInPandas like the other synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, nf, uspf = synth_mjpeg_dims(mid)
                payloads.append(
                    encode_avi(
                        w,
                        h,
                        [synth_mjpeg_pixels(mid, f, w, h) for f in range(nf)],
                        us_per_frame=uspf,
                        codec="mjpg",
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/x-msvideo;codec=mjpeg",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_color_jpeg_shape(media_id: int) -> tuple[int, int, int, int, int]:
    """Id-deterministic color-JPEG shape: (width, height, luma_h, luma_v,
    restart_interval). Sampling cycles 4:4:4 → 4:2:2 → 4:2:0 with the id,
    dims are 16-multiples so every plane is block-aligned under any of
    the three samplings."""
    w = 16 * (1 + media_id % 2)
    h = 16 * (1 + media_id % 3)
    mode = media_id % 3
    hy = 1 if mode == 0 else 2
    vy = 2 if mode == 2 else 1
    return w, h, hy, vy, 1 + media_id % 3


def synth_color_jpeg_planes(media_id: int) -> tuple[bytes, bytes, bytes]:
    """Block-constant Y/Cb/Cr planes (the class where baseline JPEG is
    numerically exact — operators/jpeg.py module docstring), each from
    its own id-arithmetic sequence over ITS OWN 8×8 block grid:
    y(b) = (41·id + 13·b) mod 256, cb(b) = (23·id + 7·b) mod 256,
    cr(b) = (29·id + 5·b) mod 256."""
    w, h, hy, vy, _ = synth_color_jpeg_shape(media_id)
    cw, ch = w // hy, h // vy

    def plane(pw: int, ph: int, a: int, step: int) -> bytes:
        bw = pw // 8
        return bytes(
            (a * media_id + step * ((yy // 8) * bw + (xx // 8))) % 256
            for yy in range(ph)
            for xx in range(pw)
        )

    return plane(w, h, 41, 13), plane(cw, ch, 23, 7), plane(cw, ch, 29, 5)


def synthesize_color_jpegs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL baseline COLOR JPEGs
    (operators/jpeg.py: 3-component interleaved MCUs across 4:4:4 /
    4:2:2 / 4:2:0, restart markers every 1–3 MCUs, Annex K Huffman
    entropy coding), pixel content id-deterministic and block-constant;
    built per-batch in mapInPandas like the other synthesizers."""
    import pandas as pd

    from rippledb_engine.operators.jpeg import encode_jpeg_color

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, hy, vy, dri = synth_color_jpeg_shape(mid)
                y, cb, cr = synth_color_jpeg_planes(mid)
                payloads.append(
                    encode_jpeg_color(
                        w, h, y, cb, cr, sampling=(hy, vy),
                        restart_interval=dri,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/jpeg",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


JPEG_PLANE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("luma_h", T.IntegerType()),
        T.StructField("luma_v", T.IntegerType()),
        T.StructField("y_sum", T.LongType()),
        T.StructField("cb_sum", T.LongType()),
        T.StructField("cr_sum", T.LongType()),
        T.StructField("resized_y_wsum", T.LongType()),
    ]
)


def jpeg_plane_stats(media: DataFrame, out_w: int = 4, out_h: int = 4) -> DataFrame:
    """REAL color-JPEG decode (r8): full baseline pipeline per payload
    inside Arrow ``mapInPandas`` — marker walk, interleaved-MCU Huffman
    decode with restart resets, dequantize, IDCT — emitting per-plane
    pixel sums plus the position-weighted nearest-resample digest of the
    LUMA plane (shared resize_nearest). One row per image; no driver
    loop, no per-row Python UDF."""
    import numpy as np
    import pandas as pd

    from rippledb_engine.operators.jpeg import decode_jpeg_planes

    cols = [f.name for f in JPEG_PLANE_SCHEMA.fields]
    weights = np.arange(1, out_w * out_h + 1, dtype=np.int64)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_jpeg_planes(bytes(payload))
                y, cb, cr = d["components"]
                ya = np.frombuffer(y["plane"], dtype=np.uint8)
                resized = np.frombuffer(
                    resize_nearest(
                        y["width"], y["height"], y["plane"], out_w, out_h
                    ),
                    dtype=np.uint8,
                ).astype(np.int64)
                rows.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        y["h"],
                        y["v"],
                        int(ya.astype(np.int64).sum()),
                        int(np.frombuffer(cb["plane"], np.uint8).astype(np.int64).sum()),
                        int(np.frombuffer(cr["plane"], np.uint8).astype(np.int64).sum()),
                        int((weights * resized).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=JPEG_PLANE_SCHEMA
    )


def decode_wav_samples(payload: bytes):
    """REAL sample decode (r8 PCM; r9 adds G.711 μ-law/A-law and
    IMA-ADPCM — the most common non-PCM WAV payloads): RIFF walk → the
    data chunk decoded to linear samples as an int64 numpy array. Mono
    only; format tags 1 (s16 PCM), 7 (μ-law), 6 (A-law), 0x11
    (IMA ADPCM, block header = sample 0). Anything else refuses loudly.
    Complements decode_wav_header, which stops at chunk metadata."""
    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV: bad RIFF/WAVE magic")
    pos, fmt, raw = 12, None, None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > len(payload):
            raise ValueError(f"truncated WAV chunk {tag!r}")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("WAV fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", payload[pos + 8 : pos + 24])
        elif tag == b"data":
            raw = payload[pos + 8 : pos + 8 + size]
        pos += 8 + size + (size & 1)
    if fmt is None or raw is None:
        raise ValueError("WAV missing fmt or data chunk")
    ftag, channels, rate, _, block_align, bits = fmt
    if channels != 1:
        raise ValueError(f"sample decode supports mono, got {channels}ch")
    if ftag == WAVE_FMT_PCM:
        if bits != 16:
            raise ValueError(f"PCM sample decode supports 16-bit, got {bits}")
        return rate, np.frombuffer(raw, dtype="<i2").astype(np.int64)
    if ftag in (WAVE_FMT_MULAW, WAVE_FMT_ALAW):
        if bits != 8:
            raise ValueError(f"G.711 is 8-bit, fmt says {bits}")
        dec = mulaw_decode_byte if ftag == WAVE_FMT_MULAW else alaw_decode_byte
        lut = np.array([dec(b) for b in range(256)], dtype=np.int64)
        return rate, lut[np.frombuffer(raw, dtype=np.uint8)]
    if ftag == WAVE_FMT_IMA:
        if bits != 4:
            raise ValueError(f"IMA ADPCM is 4-bit, fmt says {bits}")
        if block_align < 4 or len(raw) % block_align:
            raise ValueError("IMA data is not whole blocks")
        out: list[int] = []
        for off in range(0, len(raw), block_align):
            block = raw[off : off + block_align]
            pred, index, _ = struct.unpack("<hBB", block[:4])
            if index > 88:
                raise ValueError(f"IMA step index {index} out of range")
            nibbles = []
            for byte in block[4:]:
                nibbles.append(byte & 0x0F)
                nibbles.append(byte >> 4)
            out.append(pred)  # header predictor IS sample 0
            out.extend(ima_decode_block(pred, index, nibbles))
        return rate, np.array(out, dtype=np.int64)
    raise ValueError(f"unsupported WAV format tag {ftag:#x}")


def synth_pcm_samples(media_id: int, n: int) -> list[int]:
    """Deterministic s16 sample sequence — pure id arithmetic
    (s(i) = ((17·id + 3·i) mod 4001) − 2000, range ±2000), so a SQL
    oracle can recompute every sample, and therefore every energy /
    peak / zero-crossing statistic, in closed form."""
    return [((17 * media_id + 3 * i) % 4001) - 2000 for i in range(n)]


def synthesize_pcm_wavs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL PCM WAVs whose SAMPLE CONTENT
    (not just container structure) is id-deterministic
    (synth_pcm_samples × synth_audio); built per-batch in mapInPandas
    like the other synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                rate, n = synth_audio(mid)
                payloads.append(
                    encode_wav(
                        rate,
                        b"".join(
                            struct.pack("<h", s)
                            for s in synth_pcm_samples(mid, n)
                        ),
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "audio/wav",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_tiff_params(media_id: int) -> dict:
    """Id-deterministic TIFF corpus parameters: dims from id arithmetic;
    PackBits for odd ids (with x-varying rows for id%4==3 so literal
    packets are exercised, constant rows for id%4==1 so repeat packets
    are); big-endian for id%4>=2; two strips for id%8>=4. Pixel
    p(y,x) = (7·id + 3·y + xc·x) mod 256 with xc ∈ {0, 5} — closed form
    for the SQL oracle."""
    w, h = 5 + media_id % 6, 3 + media_id % 4
    return {
        "w": w,
        "h": h,
        "xc": 5 if media_id % 4 in (0, 3) else 0,
        "packbits": media_id % 2 == 1,
        "big_endian": media_id % 4 >= 2,
        "rows_per_strip": h if media_id % 8 < 4 else (h + 1) // 2,
    }


def synthesize_tiffs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL baseline TIFFs cycling
    uncompressed/PackBits × little/big endian × one/two strips
    (synth_tiff_params); built per-batch in mapInPandas like the other
    synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                p = synth_tiff_params(mid)
                pix = bytes(
                    (7 * mid + 3 * y + p["xc"] * x) % 256
                    for y in range(p["h"])
                    for x in range(p["w"])
                )
                payloads.append(
                    encode_tiff(
                        p["w"], p["h"], pix,
                        packbits=p["packbits"],
                        big_endian=p["big_endian"],
                        rows_per_strip=p["rows_per_strip"],
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/tiff",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


TIFF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("packbits", T.BooleanType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("pixel_wsum", T.LongType()),
    ]
)


def tiff_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL TIFF decode digests: per image, the raw pixel sum and the
    position-weighted Σ(k+1)·p — any pixel change OR reordering (a
    strip misassembled, a PackBits run miscounted, an endianness mixup
    in the IFD) changes one of them. Arrow mapInPandas, one row per
    image, no shuffle before the sort."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in TIFF_STATS_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                d = decode_tiff(data)
                px = np.frombuffer(d["pixels"], dtype=np.uint8).astype(np.int64)
                # compression read back from the actual IFD, not assumed
                bo = "<" if data[:2] == b"II" else ">"
                (ifd_at,) = struct.unpack_from(f"{bo}I", data, 4)
                (n,) = struct.unpack_from(f"{bo}H", data, ifd_at)
                comp = 1
                for i in range(n):
                    tag, typ = struct.unpack_from(
                        f"{bo}HH", data, ifd_at + 2 + i * 12
                    )
                    if tag == 259:
                        (comp,) = struct.unpack_from(
                            f"{bo}H", data, ifd_at + 2 + i * 12 + 8
                        )
                rows.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        comp == 32773,
                        int(px.sum()),
                        int((px * np.arange(1, px.size + 1)).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=TIFF_STATS_SCHEMA
    )


def synth_tiff_lzw_params(media_id: int) -> dict:
    """Id-deterministic LZW-TIFF corpus parameters (r10): dims from id
    arithmetic; Predictor=2 horizontal differencing for odd ids;
    big-endian for id%3==2; two strips for id%4==2 (coprime moduli — the
    r8 ADVICE lesson, every compression×predictor×endian×strip corner is
    hit). Pixel p(y,x) = (7·id + 3·y + xc·x) mod 256 with xc ∈ {0, 5} —
    xc=0 rows are constant (long LZW runs), xc=5 rows vary (fresh table
    entries) — closed form for the SQL oracle."""
    w, h = 5 + media_id % 6, 3 + media_id % 4
    return {
        "w": w,
        "h": h,
        "xc": 5 if media_id % 4 in (0, 3) else 0,
        "predictor": 2 if media_id % 2 == 1 else 1,
        "big_endian": media_id % 3 == 2,
        "rows_per_strip": h if media_id % 4 != 2 else (h + 1) // 2,
    }


def synthesize_tiffs_lzw(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL LZW-compressed TIFFs cycling
    Predictor 1/2 × little/big endian × one/two strips
    (synth_tiff_lzw_params); built per-batch in mapInPandas like the
    other synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                p = synth_tiff_lzw_params(mid)
                pix = bytes(
                    (7 * mid + 3 * y + p["xc"] * x) % 256
                    for y in range(p["h"])
                    for x in range(p["w"])
                )
                payloads.append(
                    encode_tiff(
                        p["w"], p["h"], pix,
                        lzw=True,
                        predictor=p["predictor"],
                        big_endian=p["big_endian"],
                        rows_per_strip=p["rows_per_strip"],
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/tiff",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


TIFF_LZW_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("predictor2", T.BooleanType()),
        T.StructField("pixel_sum", T.LongType()),
        T.StructField("pixel_wsum", T.LongType()),
    ]
)


def tiff_lzw_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL LZW-TIFF decode digests: per image, the raw pixel sum and
    the position-weighted Σ(k+1)·p, plus the Predictor read back from
    the actual IFD (tag 317) — a width-schedule slip, a missed table
    reset, or an undifferencing error changes a digest. Arrow
    mapInPandas, one row per image, no shuffle before the sort."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in TIFF_LZW_STATS_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                d = decode_tiff(data)
                px = np.frombuffer(d["pixels"], dtype=np.uint8).astype(np.int64)
                # predictor read back from the actual IFD, not assumed
                bo = "<" if data[:2] == b"II" else ">"
                (ifd_at,) = struct.unpack_from(f"{bo}I", data, 4)
                (n,) = struct.unpack_from(f"{bo}H", data, ifd_at)
                pred = 1
                for i in range(n):
                    tag, typ = struct.unpack_from(
                        f"{bo}HH", data, ifd_at + 2 + i * 12
                    )
                    if tag == 317:
                        (pred,) = struct.unpack_from(
                            f"{bo}H", data, ifd_at + 2 + i * 12 + 8
                        )
                rows.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        pred == 2,
                        int(px.sum()),
                        int((px * np.arange(1, px.size + 1)).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=TIFF_LZW_STATS_SCHEMA
    )


def synth_bmp_params(media_id: int) -> dict:
    """Id-deterministic BMP corpus parameters: BI_RLE8 for odd ids,
    top-down storage for id%4==2 (BI_RGB only — RLE8 is bottom-up by
    spec); index p(y,x) = (19·id + 3y + 7x) mod 256 and a NON-grayscale
    id-keyed palette (r,g,b) = ((11·id+i), (13·id+3i), (17·id+5i)) mod
    256 — so a palette misread or channel swap changes a digest."""
    return {
        "w": 4 + media_id % 5,
        "h": 3 + media_id % 3,
        "rle8": media_id % 2 == 1,
        "topdown": media_id % 4 == 2,
        "palette": [
            (
                (11 * media_id + i) % 256,
                (13 * media_id + 3 * i) % 256,
                (17 * media_id + 5 * i) % 256,
            )
            for i in range(256)
        ],
    }


def synthesize_bmps(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL 8-bit paletted BMPs cycling
    BI_RGB bottom-up / BI_RLE8 / top-down (synth_bmp_params)."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                p = synth_bmp_params(mid)
                idx = bytes(
                    (19 * mid + 3 * y + 7 * x) % 256
                    for y in range(p["h"])
                    for x in range(p["w"])
                )
                payloads.append(
                    encode_bmp(
                        p["w"], p["h"], idx, p["palette"],
                        rle8=p["rle8"], topdown=p["topdown"],
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/bmp",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


BMP_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
        T.StructField("rgb_wsum", T.LongType()),
    ]
)


def bmp_pixel_stats(media: DataFrame) -> DataFrame:
    """REAL BMP decode digests: palette-mapped per-channel sums plus the
    position-weighted Σ(k+1)·(r+g+b) over the TOP-DOWN pixel order — a
    bottom-up flip skipped, an RLE8 run miscounted, or a BGRA palette
    entry read in the wrong channel order changes one of them."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in BMP_STATS_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_bmp(bytes(payload))
                idx = np.frombuffer(d["indices"], dtype=np.uint8)
                pal = np.array(d["palette"], dtype=np.int64)
                rgb = pal[idx]  # (n, 3) in top-down pixel order
                w = np.arange(1, idx.size + 1)
                rows.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        int(rgb[:, 0].sum()),
                        int(rgb[:, 1].sum()),
                        int(rgb[:, 2].sum()),
                        int((w * rgb.sum(1)).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=BMP_STATS_SCHEMA
    )


def synth_g711_adpcm_params(media_id: int) -> dict:
    """Id-deterministic parameters for the r9 non-PCM audio corpus:
    codec cycles μ-law / A-law / IMA-ADPCM with ``media_id % 3``; the
    ENCODED stream (G.711 bytes, ADPCM header + nibbles) comes from pure
    id arithmetic, so a SQL oracle can replay the decoder over it —
    G.711 in closed form, ADPCM as a recursive CTE."""
    mode = media_id % 3
    if mode in (0, 1):
        n = 16 + media_id % 33
        a, step = (23, 5) if mode == 0 else (29, 7)
        return {
            "mode": mode,
            "n_samples": n,
            "bytes": bytes((a * media_id + step * i) % 256 for i in range(n)),
        }
    n_nib = 16 + 2 * (media_id % 9)
    return {
        "mode": mode,
        "n_samples": 1 + n_nib,
        "pred0": ((11 * media_id) % 4001) - 2000,
        "idx0": media_id % 89,
        "nibbles": [(13 * media_id + 3 * i) % 16 for i in range(n_nib)],
    }


def synthesize_g711_adpcm_wavs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL non-PCM WAVs — G.711 μ-law
    (tag 7), G.711 A-law (tag 6), IMA-ADPCM (tag 0x11) cycling with the
    id (synth_g711_adpcm_params); built per-batch in mapInPandas like
    the other synthesizers. Sample rate is G.711's native 8000 Hz."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                p = synth_g711_adpcm_params(int(mid))
                if p["mode"] == 0:
                    payloads.append(encode_wav_g711(8000, p["bytes"], "ulaw"))
                elif p["mode"] == 1:
                    payloads.append(encode_wav_g711(8000, p["bytes"], "alaw"))
                else:
                    payloads.append(
                        encode_wav_ima(8000, p["pred0"], p["idx0"], p["nibbles"])
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "audio/wav",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("total_energy", T.LongType()),
        T.StructField("max_abs", T.LongType()),
        T.StructField("n_zero_crossings", T.LongType()),
        T.StructField("n_loud_windows", T.LongType()),
    ]
)


def wav_audio_stats(media: DataFrame, window: int = 16,
                    loud_energy: int = 2_000_000) -> DataFrame:
    """REAL audio analysis (r8 — the audio tier's pixel-decode
    equivalent): decode every WAV's PCM samples inside Arrow
    ``mapInPandas`` and emit EXACT integer digests — total energy
    (Σ s², the quantity VAD/loudness gates threshold), peak |s|,
    zero-crossing count (s_i·s_{i+1} < 0 — the classic voicing
    feature), and how many non-overlapping ``window``-sample windows
    clear ``loud_energy`` (a windowed activity gate; the tail partial
    window counts too). Everything is integer arithmetic on int16
    samples, so a SQL oracle recomputes every statistic bit-exactly —
    no float tolerance anywhere. One row per clip; no driver loop, no
    per-row Python UDF."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in AUDIO_STATS_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rate, s = decode_wav_samples(bytes(payload))
                sq = s * s
                n = int(s.size)
                nw = -(-n // window)
                wsum = np.zeros(nw, dtype=np.int64)
                np.add.at(wsum, np.arange(n) // window, sq)
                rows.append(
                    (
                        int(mid),
                        int(rate),
                        n,
                        int(sq.sum()),
                        int(np.abs(s).max()) if n else 0,
                        int(((s[:-1] * s[1:]) < 0).sum()) if n > 1 else 0,
                        int((wsum > loud_energy).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=AUDIO_STATS_SCHEMA
    )


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def encode_png_color(width: int, height: int, pixels: bytes,
                     alpha: bool = False) -> bytes:
    """Minimal VALID 8-bit truecolor PNG (RFC 2083): color type 2 (RGB)
    or 6 (RGBA with ``alpha``); ``pixels`` is the interleaved row-major
    buffer of exactly width·height·channels bytes."""
    ch = 4 if alpha else 3
    if width <= 0 or height <= 0:
        raise ValueError("png dimensions must be positive")
    if len(pixels) != width * height * ch:
        raise ValueError(f"pixel buffer must be {ch} bytes per pixel")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 6 if alpha else 2, 0, 0, 0)
    stride = width * ch
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def encode_png_palette(width: int, height: int, indices: bytes,
                       palette: bytes, trns: bytes | None = None) -> bytes:
    """Minimal VALID 8-bit palette PNG (color type 3): ``indices`` is one
    PLTE index per pixel, ``palette`` the concatenated RGB triplets
    (3·entries bytes, ≤ 256 entries). ``trns`` (r11): optional per-entry
    alpha bytes — may be SHORTER than the palette (the PNG §11.3.2.1
    opaque-tail rule)."""
    if width <= 0 or height <= 0:
        raise ValueError("png dimensions must be positive")
    if len(indices) != width * height:
        raise ValueError("index buffer does not match dimensions")
    if len(palette) % 3 or not (3 <= len(palette) <= 768):
        raise ValueError("palette must be 3x entries, 1..256 entries")
    if max(indices) >= len(palette) // 3:
        raise ValueError("palette index out of range")
    if trns is not None and len(trns) > len(palette) // 3:
        raise ValueError("tRNS longer than the palette")
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 3, 0, 0, 0)
    raw = b"".join(
        b"\x00" + indices[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", palette)
        + (_png_chunk(b"tRNS", trns) if trns is not None else b"")
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


def synth_color_png_shape(media_id: int) -> tuple[int, int, int]:
    """Id-deterministic color-PNG shape: (width, height, color_type) —
    color type cycles truecolor (2) → palette (3) → RGBA (6)."""
    return 4 + media_id % 9, 3 + media_id % 5, (2, 3, 6)[media_id % 3]


def synth_color_png_pixels(media_id: int) -> bytes:
    """Deterministic interleaved pixel field by color type — pure id
    arithmetic, so a SQL oracle recomputes every decoded channel value:

    - truecolor/RGBA: r(k)=(43·id+7k)%256, g(k)=(47·id+11k)%256,
      b(k)=(53·id+13k)%256, a(k)=(59·id+17k)%256;
    - palette: index(k)=(31·id+7k)%16 into a 16-entry palette with
      palette[j] = ((61·id+5j)%256, (67·id+3j)%256, (71·id+9j)%256), so
      the DECODED rgb is the composition of the two formulas.

    PNG is lossless, so unlike JPEG the oracle needs no special content
    class — any formula works; these keep all three code paths distinct."""
    w, h, ct = synth_color_png_shape(media_id)
    n = w * h
    if ct == 3:
        return bytes((31 * media_id + 7 * k) % 16 for k in range(n))
    out = bytearray()
    for k in range(n):
        out += bytes(
            (
                (43 * media_id + 7 * k) % 256,
                (47 * media_id + 11 * k) % 256,
                (53 * media_id + 13 * k) % 256,
            )
        )
        if ct == 6:
            out.append((59 * media_id + 17 * k) % 256)
    return bytes(out)


def synth_color_png_palette(media_id: int) -> bytes:
    return b"".join(
        bytes(
            (
                (61 * media_id + 5 * j) % 256,
                (67 * media_id + 3 * j) % 256,
                (71 * media_id + 9 * j) % 256,
            )
        )
        for j in range(16)
    )


def synthesize_color_pngs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL color PNGs cycling truecolor
    / palette / RGBA, pixel content id-deterministic; built per-batch in
    mapInPandas like the other synthesizers."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, ct = synth_color_png_shape(mid)
                px = synth_color_png_pixels(mid)
                if ct == 3:
                    payloads.append(
                        encode_png_palette(w, h, px, synth_color_png_palette(mid))
                    )
                else:
                    payloads.append(encode_png_color(w, h, px, alpha=(ct == 6)))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


PNG_COLOR_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("color_type", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("r_sum", T.LongType()),
        T.StructField("g_sum", T.LongType()),
        T.StructField("b_sum", T.LongType()),
        T.StructField("a_sum", T.LongType()),
        T.StructField("rgb_wsum", T.LongType()),
    ]
)


def png_color_stats(media: DataFrame) -> DataFrame:
    """REAL color-PNG decode (r8): full chunk walk + inflate + bpp-aware
    unfilter + palette expansion per payload inside Arrow
    ``mapInPandas``, emitting per-channel pixel sums and the
    position-weighted Σ(k+1)·(r+g+b) digest (any pixel REORDERING
    changes it). One row per image; a_sum is 0 for alpha-less types."""
    import numpy as np
    import pandas as pd

    cols = [f.name for f in PNG_COLOR_SCHEMA.fields]

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                d = decode_png_any(bytes(payload))
                a = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(
                    -1, d["channels"]
                ).astype(np.int64)
                k1 = np.arange(1, a.shape[0] + 1, dtype=np.int64)
                rows.append(
                    (
                        int(mid),
                        d["width"],
                        d["height"],
                        d["color_type"],
                        d["channels"],
                        int(a[:, 0].sum()),
                        int(a[:, 1].sum()),
                        int(a[:, 2].sum()),
                        int(a[:, 3].sum()) if d["channels"] == 4 else 0,
                        int((k1 * a[:, :3].sum(1)).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=PNG_COLOR_SCHEMA
    )


# ---------------------------------------------------------------------------
# MPEG-1 intra-only video (operators/mpeg1.py, r11)
# ---------------------------------------------------------------------------

MPEG1_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_no", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("us_per_frame", T.LongType()),
        T.StructField("n_pixels", T.LongType()),
        T.StructField("y_sum", T.LongType()),
        T.StructField("cb_sum", T.LongType()),
        T.StructField("cr_sum", T.LongType()),
        T.StructField("resized_wsum", T.LongType()),
    ]
)


def synth_mpeg1_dims(media_id: int) -> tuple[int, int, int, int]:
    """Id-deterministic MPEG-1 shape: (width, height, n_frames,
    rate_code); dims are 16-multiples (macroblock-aligned)."""
    return (
        16 * (1 + media_id % 2),
        16 * (1 + media_id % 3),
        1 + media_id % 3,
        1 + media_id % 5,
    )


def synth_mpeg1_planes(
    media_id: int, frame_no: int
) -> tuple[bytes, bytes, bytes]:
    """Deterministic BLOCK-CONSTANT 4:2:0 planes — constant on each 8×8
    block of each plane (y(b) = (43·id + 19·f + 13·b) mod 256, cb(b) =
    (23·id + 7·f + 11·b) mod 256, cr(b) = (29·id + 5·f + 3·b) mod 256):
    the content class where MPEG-1 intra coding is numerically exact
    (DC-only blocks, recon = dc·8 — operators/mpeg1.py docstring), so a
    SQL oracle recomputes every decoded pixel from id arithmetic."""
    import numpy as np

    w, h, _, _ = synth_mpeg1_dims(media_id)

    def plane(pw: int, ph: int, a: int, fs: int, step: int) -> bytes:
        bw = pw // 8
        block = (np.arange(ph, dtype=np.int64)[:, None] // 8) * bw + (
            np.arange(pw, dtype=np.int64)[None, :] // 8
        )
        return (
            ((a * media_id + fs * frame_no + step * block) % 256)
            .astype(np.uint8)
            .tobytes()
        )

    return (
        plane(w, h, 43, 19, 13),
        plane(w // 2, h // 2, 23, 7, 11),
        plane(w // 2, h // 2, 29, 5, 3),
    )


def synthesize_mpeg1_streams(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL intra-only MPEG-1 video
    elementary streams (sequence/GOP/picture/slice/macroblock layers,
    Annex B VLCs — operators/mpeg1.encode_mpeg1_intra), pixel content
    id-deterministic and block-constant; built per-batch in mapInPandas
    like the other synthesizers."""
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_intra

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, nf, rate = synth_mpeg1_dims(mid)
                payloads.append(
                    encode_mpeg1_intra(
                        w,
                        h,
                        [synth_mpeg1_planes(mid, f) for f in range(nf)],
                        rate_code=rate,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/mpeg;codec=mpeg1",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def mpeg1_frame_pixel_stats(
    media: DataFrame, every_n: int = 2, out_w: int = 4, out_h: int = 4
) -> DataFrame:
    """REAL MPEG-1 I-frame decode (r11): walk each elementary stream,
    entropy-decode + dequantize + IDCT every ``every_n``-th picture's
    macroblocks (operators/mpeg1.decode_mpeg1_frames), resize the luma
    plane with the shared resize_nearest, and emit closed-form digests
    — per-plane pixel sums and the position-weighted resample sum (any
    pixel REORDERING changes it). 1→N frame expansion inside Arrow
    ``mapInPandas`` — the avi_frame_pixel_stats shape."""
    import numpy as np
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import decode_mpeg1_frames

    cols = [f.name for f in MPEG1_FRAME_SCHEMA.fields]
    weights = np.arange(1, out_w * out_h + 1, dtype=np.int64)

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                v = decode_mpeg1_frames(bytes(payload))
                w, h = v["width"], v["height"]
                for f in range(0, v["n_frames"], every_n):
                    py, pcb, pcr = v["frames"][f]
                    y = np.frombuffer(py, dtype=np.uint8)
                    resized = np.frombuffer(
                        resize_nearest(w, h, py, out_w, out_h), dtype=np.uint8
                    ).astype(np.int64)
                    rows.append(
                        (
                            int(mid),
                            f,
                            w,
                            h,
                            int(v["us_per_frame"]),
                            int(y.size),
                            int(y.astype(np.int64).sum()),
                            int(np.frombuffer(pcb, dtype=np.uint8).astype(np.int64).sum()),
                            int(np.frombuffer(pcr, dtype=np.uint8).astype(np.int64).sum()),
                            int((weights * resized).sum()),
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select("media_id", "payload").mapInPandas(
        batch_fn, schema=MPEG1_FRAME_SCHEMA
    )


def synthesize_trns_pngs(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of REAL palette PNGs WITH tRNS
    alpha (r11 — the formerly-refused corner): 16-entry palette
    (synth_color_png_palette), indices (31·id + 7k) % 16, and a
    10-entry tRNS a(j) = (73·id + 7j) % 256 — deliberately SHORTER than
    the palette so the §11.3.2.1 opaque-tail rule (entries ≥ 10 →
    alpha 255) is exercised on every image."""
    import pandas as pd

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id"))
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 5 + mid % 7, 4 + mid % 5
                idx = bytes((31 * mid + 7 * k) % 16 for k in range(w * h))
                trns = bytes((73 * mid + 7 * j) % 256 for j in range(10))
                payloads.append(
                    encode_png_palette(
                        w, h, idx, synth_color_png_palette(mid), trns=trns
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_mpeg1_gop_dims(media_id: int) -> tuple[int, int, int, int]:
    """Id-deterministic I+P GOP shape: (width, height, n_p_frames,
    rate_code) — width 32/48, height 32 (2 MB rows: row 0 MOVES under
    MC, row 1 HOLDS via skipped macroblocks)."""
    return 16 * (2 + media_id % 2), 32, 1 + media_id % 2, 1 + media_id % 5


def synth_mpeg1_gop_iframe(media_id: int) -> tuple[bytes, bytes, bytes]:
    """Block-constant I-frame planes for the GOP fixture:
    y(b) = (41·id + 11·b) % 256, cb(b) = (17·id + 5·b) % 256,
    cr(b) = (19·id + 3·b) % 256."""
    w, h, _, _ = synth_mpeg1_gop_dims(media_id)

    def plane(pw: int, ph: int, a: int, step: int) -> bytes:
        bw = pw // 8
        return bytes(
            (a * media_id + step * ((y // 8) * bw + (x // 8))) % 256
            for y in range(ph)
            for x in range(pw)
        )

    return (
        plane(w, h, 41, 11),
        plane(w // 2, h // 2, 17, 5),
        plane(w // 2, h // 2, 19, 3),
    )


def synthesize_mpeg1_gops(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of I+P MPEG-1 streams exercising
    the r11 motion-compensation path: each P picture SHIFTS macroblock
    row 0 right by one MB (forward MC, vector (−16, 0); column 0 holds
    with a coded (0, 0) vector) while row 1 is SKIPPED (copy in place;
    the slice's last MB is coerced to a coded (0, 0), which
    reconstructs identically). MC copy of block-constant content is
    numerically lossless, so every decoded pixel of every frame has a
    closed form the SQL oracle recomputes."""
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ip

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, n_p, rate = synth_mpeg1_gop_dims(mid)
                mbw = w // 16
                motions = []
                for my in range(h // 16):
                    for mx in range(mbw):
                        if my == 0:
                            motions.append((0, 0) if mx == 0 else (-16, 0))
                        else:
                            motions.append(None)
                payloads.append(
                    encode_mpeg1_ip(
                        w, h, synth_mpeg1_gop_iframe(mid),
                        [list(motions)] * n_p, rate_code=rate,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/mpeg;codec=mpeg1",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synth_mpeg1_residual_level(media_id: int, mb: int, bi: int) -> int:
    """Signed quantized DC level for luma block ``bi`` (0-3) of
    macroblock ``mb`` in the residual-GOP fixture: magnitude
    1 + (id + 3·mb + bi) % 5, sign alternating on (mb + bi) parity.
    With qscale 8 and the flat non-intra matrix the §2.4.4.2
    reconstruction is ±(16·L + 7) — (2L+1)·8 is even, so oddification
    always fires — and the block-constant residual is rec/8."""
    level = 1 + (media_id + 3 * mb + bi) % 5
    return level if (mb + bi) % 2 == 0 else -level


def synthesize_mpeg1_residual_gops(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of I+P MPEG-1 streams exercising
    the r12 residual path: one I picture (the GOP fixture's
    block-constant planes) followed by ONE P picture in which EVERY
    macroblock is coded pred-mc-cbp with vector (0, 0) and a DC-only
    residual on each of its four luma blocks (Table B.3 cbp = 60;
    chroma rides the MC copy untouched). DC-only residuals on
    block-constant predictions keep every decoded pixel closed-form:
    pixel = clip(round(y0 + rec/8)) with rec = ±(16·L + 7) — rec is
    odd, so the rounding never lands on a tie and both engines agree
    exactly."""
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ip

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, _, rate = synth_mpeg1_gop_dims(mid)
                mbw = w // 16
                mbs = []
                for mb in range(mbw * (h // 16)):
                    resid = {
                        bi: [(0, synth_mpeg1_residual_level(mid, mb, bi))]
                        for bi in range(4)
                    }
                    mbs.append((0, 0, resid))
                payloads.append(
                    encode_mpeg1_ip(
                        w, h, synth_mpeg1_gop_iframe(mid), [mbs],
                        rate_code=rate,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/mpeg;codec=mpeg1",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synthesize_mpeg1_ipb_gops(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of I+P+B MPEG-1 streams exercising
    the r12 B-picture path: coded order I(0) P(2) B(1), display order
    I B P. The P picture shifts macroblock row 0 right by one MB (the
    gop fixture's motion); the B picture's prediction MODE varies per
    macroblock by (id + mb) % 3 — forward-only (== I), backward-only
    (== P), or interpolated ((I + P + 1) >> 1, exact integers on
    block-constant anchors) — so one certified row exercises Table
    B.2c types, both vector predictors, bidirectional averaging, AND
    the coded→display reordering (the order-weighted sum breaks if
    frames come back in coded order)."""
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ipb

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, _, rate = synth_mpeg1_gop_dims(mid)
                mbw = w // 16
                p_mbs = []
                for my in range(2):
                    for mx in range(mbw):
                        p_mbs.append(
                            (-16, 0) if my == 0 and mx > 0 else (0, 0)
                        )
                b_mbs = []
                for mb in range(2 * mbw):
                    m = (mid + mb) % 3
                    if m == 0:
                        b_mbs.append(((0, 0), None))
                    elif m == 1:
                        b_mbs.append((None, (0, 0)))
                    else:
                        b_mbs.append(((0, 0), (0, 0)))
                payloads.append(
                    encode_mpeg1_ipb(
                        w, h, synth_mpeg1_gop_iframe(mid),
                        [("P", 2, p_mbs), ("B", 1, b_mbs)],
                        rate_code=rate,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/mpeg;codec=mpeg1",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)


def synthesize_mpeg1_halfpel_gops(df: DataFrame, id_col: str) -> DataFrame:
    """Id-keyed table → media table of I+P MPEG-1 streams exercising
    the r12 HALF-PEL path with full_pel_forward_vector=0 (vectors in
    half-pel units): macroblock row 0 takes (−1, 0) — horizontal luma
    interpolation, chroma copy (trunc(−1/2) = 0) — except column 0's
    (0, 0); row 1 column 0 takes (0, −1) — vertical luma interpolation
    — and the rest (−2, 0) — a full-pel luma shift whose chroma vector
    trunc(−2/2) = −1 interpolates CHROMA horizontally. On block-
    constant content every interpolated pixel is the exact integer
    (a+b+1)>>1 of two block constants (edge rows/columns) or the
    constant itself (interiors), so the SQL oracle recomputes every
    pixel of both frames in closed form."""
    import pandas as pd

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_ip

    src = spread_media_ids(
        df.select(F.col(id_col).cast("long").alias("media_id")), heavy=True
    )

    def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h, _, rate = synth_mpeg1_gop_dims(mid)
                mbw = w // 16
                mbs = []
                for my in range(2):
                    for mx in range(mbw):
                        if my == 0:
                            mbs.append((0, 0) if mx == 0 else (-1, 0))
                        else:
                            mbs.append((0, -1) if mx == 0 else (-2, 0))
                payloads.append(
                    encode_mpeg1_ip(
                        w, h, synth_mpeg1_gop_iframe(mid), [mbs],
                        rate_code=rate, full_pel=False,
                    )
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": payloads,
                    "media_type": "video/mpeg;codec=mpeg1",
                }
            )

    return src.mapInPandas(batch_fn, schema=MEDIA_SCHEMA)
