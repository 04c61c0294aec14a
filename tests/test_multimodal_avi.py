"""AVI container + DIB/RLE8 frame codecs (operators/multimodal.py, r8)."""

from __future__ import annotations

import struct

import pytest

from rippledb_engine.operators.multimodal import (
    avi_frame_pixel_stats,
    decode_avi_frames,
    encode_avi,
    resize_nearest,
    rle8_decode_frame,
    rle8_encode_frame,
    synth_avi_dims,
    synth_avi_pixels,
    synthesize_avis,
)


def test_avi_round_trip_both_codecs():
    for mid in range(12):
        w, h, nf, uspf = synth_avi_dims(mid)
        frames = [synth_avi_pixels(mid, f, w, h) for f in range(nf)]
        payload = encode_avi(w, h, frames, us_per_frame=uspf, rle=bool(mid % 2))
        v = decode_avi_frames(payload)
        assert (v["width"], v["height"], v["n_frames"], v["us_per_frame"]) == (
            w, h, nf, uspf,
        )
        assert v["compression"] == ("rle8" if mid % 2 else "rgb")
        assert v["frames"] == frames, mid


def test_rle8_round_trip_and_run_lengths():
    # a 7-wide row needs pad-free RLE; runs longer than 255 must split
    w, h = 300, 2
    top = bytes([5] * 299 + [9]) + bytes([1, 2] * 150)
    rows_bu = [top[w:], top[:w]]
    enc = rle8_encode_frame(w, h, rows_bu)
    assert rle8_decode_frame(enc, w, h) == rows_bu
    # encoded form really contains a split run (255 then 44)
    assert bytes([255, 5]) in enc and bytes([44, 5]) in enc


def test_rle8_decoder_absolute_and_delta_modes():
    # hand-crafted stream exercising the spec modes the encoder never
    # emits: absolute (00 n, word-aligned), delta (00 02 dx dy), EOL, EOB
    data = bytes(
        [0, 3, 9, 8, 7, 0,  # absolute: 3 bytes + pad
         1, 5,              # run 1×5
         0, 0,              # end of line
         0, 2, 2, 1,        # delta: skip to x=2 on the row above
         2, 6,              # run 2×6
         0, 1]              # end of bitmap
    )
    rows = rle8_decode_frame(data, 4, 3)
    assert rows[0] == bytes([9, 8, 7, 5])
    assert rows[1] == bytes([0, 0, 0, 0])  # delta-skipped cells read 0
    assert rows[2] == bytes([0, 0, 6, 6])


def test_rle8_decoder_refuses_overruns():
    with pytest.raises(ValueError, match="overflows"):
        rle8_decode_frame(bytes([9, 1, 0, 1]), 4, 1)
    with pytest.raises(ValueError, match="truncated"):
        rle8_decode_frame(bytes([2, 1]), 4, 1)


def test_dib_row_padding_and_bottom_up_flip():
    # width 5 → 3 pad bytes per DIB row; decoder must strip pad + flip
    frame = bytes(range(10))
    payload = encode_avi(5, 2, [frame], rle=False)
    v = decode_avi_frames(payload)
    assert v["frames"][0] == frame
    # the stored chunk is bottom-up padded: find the movi data and check
    at = payload.find(b"00db")
    stored = payload[at + 8 : at + 8 + 16]
    assert stored == frame[5:10] + b"\x00" * 3 + frame[0:5] + b"\x00" * 3


def test_negative_biheight_is_top_down():
    frame = bytes(range(10))
    payload = bytearray(encode_avi(5, 2, [frame], rle=False))
    at = payload.index(struct.pack("<Ii", 40, 5))  # BITMAPINFOHEADER
    struct.pack_into("<i", payload, at + 8, -2)  # biHeight = -2: top-down
    v = decode_avi_frames(bytes(payload))
    # stored rows were bottom-up; a top-down flag must NOT re-flip them
    assert v["frames"][0] == frame[5:10] + frame[0:5]


def test_decoder_refusals_are_loud():
    with pytest.raises(ValueError, match="bad RIFF/AVI magic"):
        decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")
    ok = encode_avi(4, 3, [bytes(12)], rle=False)
    at = ok.index(struct.pack("<Ii", 40, 4))
    h264 = bytearray(ok)
    struct.pack_into("<I", h264, at + 16, 0x34363248)  # biCompression 'H264'
    with pytest.raises(ValueError, match="codec libraries"):
        decode_avi_frames(bytes(h264))
    with pytest.raises(ValueError, match="truncated AVI chunk"):
        decode_avi_frames(ok[:-4])


def test_avi_frame_pixel_stats_matches_closed_form(spark):
    ids = spark.range(0, 20).select(F_col_id())
    stats = {
        (r["media_id"], r["frame_no"]): r
        for r in avi_frame_pixel_stats(
            synthesize_avis(ids, "id"), every_n=2, out_w=4, out_h=4
        ).collect()
    }
    for mid in range(20):
        w, h, nf, uspf = synth_avi_dims(mid)
        for f in range(0, nf, 2):
            pix = synth_avi_pixels(mid, f, w, h)
            r = stats.pop((mid, f))
            assert (r["width"], r["height"], r["us_per_frame"]) == (w, h, uspf)
            assert r["n_pixels"] == w * h
            assert r["pixel_sum"] == sum(pix)
            resized = resize_nearest(w, h, pix, 4, 4)
            assert r["resized_wsum"] == sum(
                (k + 1) * v for k, v in enumerate(resized)
            )
    assert not stats  # no extra frames sampled


def F_col_id():
    import pyspark.sql.functions as F

    return F.col("id")


# ---------------------------------------------------------------------------
# PCM audio analysis (r8)
# ---------------------------------------------------------------------------


def test_wav_sample_round_trip_and_refusals():
    import struct as _s

    import numpy as np
    import pytest as _pt

    from rippledb_engine.operators.multimodal import (
        decode_wav_samples,
        encode_wav,
        synth_pcm_samples,
    )

    samples = synth_pcm_samples(9, 40)
    wav = encode_wav(16000, b"".join(_s.pack("<h", s) for s in samples))
    rate, got = decode_wav_samples(wav)
    assert rate == 16000 and got.tolist() == samples
    # stereo refusal: patch the channels field of fmt
    bad = bytearray(wav)
    at = bad.index(b"fmt ") + 8
    _s.pack_into("<H", bad, at + 2, 2)
    with _pt.raises(ValueError, match="supports mono"):
        decode_wav_samples(bytes(bad))
    assert isinstance(got, np.ndarray)


def test_wav_audio_stats_match_closed_form(spark):
    import pyspark.sql.functions as F

    from rippledb_engine.operators.multimodal import (
        synth_audio,
        synth_pcm_samples,
        synthesize_pcm_wavs,
        wav_audio_stats,
    )

    ids = spark.range(0, 25).select(F.col("id"))
    stats = {
        r["media_id"]: r
        for r in wav_audio_stats(
            synthesize_pcm_wavs(ids, "id"), window=16, loud_energy=2_000_000
        ).collect()
    }
    for mid in range(25):
        rate, n = synth_audio(mid)
        s = synth_pcm_samples(mid, n)
        r = stats[mid]
        assert (r["sample_rate"], r["n_samples"]) == (rate, n)
        assert r["total_energy"] == sum(v * v for v in s)
        assert r["max_abs"] == max(abs(v) for v in s)
        assert r["n_zero_crossings"] == sum(
            1 for a, b in zip(s, s[1:]) if a * b < 0
        )
        wins = [s[i : i + 16] for i in range(0, n, 16)]
        assert r["n_loud_windows"] == sum(
            1 for w in wins if sum(v * v for v in w) > 2_000_000
        )
