"""Dedup / similarity / text / multimodal operator tests on planted fixtures
(the oracle gate covers the real tables; these verify operator semantics on
controlled inputs where the right answer is known by construction)."""

from __future__ import annotations

import hashlib

import pytest
import pyspark.sql.functions as F

from rippledb_engine.functions import text as TX
from rippledb_engine.operators import dedup as DD
from rippledb_engine.operators import multimodal as MM
from rippledb_engine.operators import similarity as SIM

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (4, "completely different text about spark query engines and shuffles here"),
    (5, "der schnelle braune fuchs und die faule katze und das haus ist hier"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_keeps_lowest_id(docs):
    kept = sorted(r["doc_id"] for r in DD.exact_dedup(docs, "text", "doc_id").collect())
    assert kept == [1, 3, 4, 5]  # doc 2 removed, doc 1 (lower id) kept


def test_shingles_expression(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], ["id", "t"])
    out = {r["id"]: r["sh"] for r in df.select("id", DD.shingles("t", 3).alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n tokens


def test_ngram_jaccard_finds_planted_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and 0.5 < pairs[(1, 3)] < 1.0  # near dup
    assert (2, 3) in pairs
    assert not any(4 in k or 5 in k for k in pairs)


def test_ngram_jaccard_df_cap_equivalent_below_cap(docs):
    """With every shingle under the cap, the guarded and unguarded forms
    return identical pair sets (the default-cap contract)."""
    capped = sorted(
        map(tuple, DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect())
    )
    uncapped = sorted(
        map(
            tuple,
            DD.ngram_jaccard_pairs(
                docs, "text", "doc_id", threshold=0.3, max_df=None
            ).collect(),
        )
    )
    assert capped == uncapped and len(capped) > 0


def test_ngram_jaccard_df_cap_drops_boilerplate_only_overlap(spark):
    """Docs whose ONLY overlap is a super-cap boilerplate shingle produce no
    pair under the guard; docs with sub-cap real overlap still pair."""
    rows = [
        # all four docs share the boilerplate prefix "terms of service apply"
        (1, "terms of service apply unique alpha beta gamma one"),
        (2, "terms of service apply unique alpha beta gamma two"),
        (3, "terms of service apply other delta epsilon zeta three"),
        (4, "terms of service apply other delta epsilon zeta four"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # cap=3 < DF(boilerplate)=4, so boilerplate shingles drop; the
    # "unique alpha beta gamma" / "other delta epsilon zeta" runs (DF 2) stay
    pairs = {
        (r["id_a"], r["id_b"])
        for r in DD.ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.1, max_df=3
        ).collect()
    }
    assert (1, 2) in pairs and (3, 4) in pairs
    assert (1, 3) not in pairs and (2, 4) not in pairs  # boilerplate-only


def test_minhash_lsh_finds_planted_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in DD.minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=32, bands=16, jaccard_threshold=0.3
        ).collect()
    }
    # exact dup always collides in every band; near-dup with 16 bands of 2
    # rows collides w.h.p. at J≈0.85
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert not any(4 in k or 5 in k for k in pairs)


def test_simhash_identical_zero_distance(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in DD.simhash_pairs(docs, "text", "doc_id", max_hamming=20, block_bits=4).collect()
    }
    assert pairs.get((1, 2)) == 0  # identical text → identical signature
    if (1, 3) in pairs:
        assert pairs[(1, 3)] <= 20


def test_simhash_multirotation_catches_boundary_pair(spark):
    """Signatures differing ONLY in the top bit sit in different top-16-bit
    blocks — the single-blocking miss. A rotated view must catch them."""
    from rippledb_engine.operators.dedup import simhash_pairs_from_sigs

    sigs = spark.createDataFrame(
        [(1, -(2**63)), (2, 0), (3, 0x0000FFFF00000000)],  # 1 vs 2: hamming 1
        ["__id", "__sim"],
    )
    single = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs_from_sigs(sigs, max_hamming=2, rotations=1).collect()
    }
    multi = {
        (r["id_a"], r["id_b"])
        for r in simhash_pairs_from_sigs(sigs, max_hamming=2, rotations=4).collect()
    }
    assert (1, 2) not in single  # the boundary miss the docstring warned about
    assert (1, 2) in multi  # rotation moves the differing bit out of the prefix


def test_brute_force_topk_self_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    got = [(r["vec_id"], r["cos_sim"]) for r in SIM.brute_force_topk(e, q, k=3).collect()]
    assert got[0] == (0, 1.0)  # self is most similar
    assert got[1][0] == 1
    assert got[2][0] == 2
    # anti-parallel excluded from top-3? it's rank 4 of 4 → not present
    assert all(vid != 3 for vid, _ in got)


def test_lsh_same_bucket_for_identical(spark):
    rows = [(i, [float(i % 3), 1.0, 0.5, 0.25]) for i in range(6)]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    got = [r["vec_id"] for r in SIM.lsh_topk(e, q, k=10, n_planes=4, dim=4).collect()]
    # identical vectors (0 and 3) share every sign bit → same bucket
    assert 0 in got and 3 in got


def test_blocked_top1(spark):
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [0.99, 0.01]),
        (2, 0, [0.0, 1.0]),
        (10, 1, [1.0, 1.0]),
        (11, 1, [-1.0, -1.0]),
    ]
    e = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    top = {r["id_a"]: r["id_b"] for r in SIM.blocked_top1_pairs(e).collect()}
    assert top[0] == 1 and top[1] == 0
    assert top[10] == 11  # only candidate in block 1


def test_blocked_top1_chunked_matches_unchunked(spark):
    """A block LARGER than the chunk size must produce the same winners as
    the single-matmul path (chunk covers everything) — exercises diagonal
    masking and the cross-chunk lower-id tie-break."""
    import random

    rng = random.Random(42)
    rows = [
        (i, 0, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(23)
    ]
    # plant an exact tie: ids 30 and 31 (in later chunks) duplicate id 1's
    # vector, so id 20's best has multiple equal candidates
    rows += [(30, 0, list(rows[1][2])), (31, 0, list(rows[1][2]))]
    e = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    small = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in SIM.blocked_top1_pairs(e, chunk=4).collect()
    }
    big = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in SIM.blocked_top1_pairs(e, chunk=10_000).collect()
    }
    assert small == big
    assert len(small) == 25


def test_ivf_bounded_sample_fit(spark):
    """When the corpus exceeds max_train the quantizer fits on a bounded,
    value-deterministic sample — and the probe output is stable."""
    from rippledb_engine.operators.similarity import ivf_topk

    rows = [(i, [float((i * 7 + j) % 13) for j in range(4)]) for i in range(300)]
    e = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = e.filter(F.col("vec_id") == 5).select(F.col("embedding").alias("q"))
    a = [r["vec_id"] for r in ivf_topk(e, q, k=5, n_clusters=3, max_train=50).collect()]
    b = [r["vec_id"] for r in ivf_topk(e, q, k=5, n_clusters=3, max_train=50).collect()]
    assert a == b  # deterministic sample → deterministic centroids → stable probe
    assert len(a) == 5 and 5 in a  # self lands in its own probed cluster


# -- text functions ---------------------------------------------------------


def test_token_and_stopword_counts(spark):
    df = spark.createDataFrame([("the cat is on the mat",)], ["text"])
    row = df.select(
        TX.token_count("text").alias("nt"),
        TX.stopword_count("text").alias("ns"),
        TX.punct_count("text").alias("np"),
    ).collect()[0]
    assert row["nt"] == 6
    assert row["ns"] == 4  # the, is, on, the
    assert row["np"] == 0


def test_quality_score_bounds(spark):
    df = spark.createDataFrame(
        [("good long informative sentence with many content words here",),
         ("the the the a a a of of of",)],
        ["text"],
    )
    scores = [r[0] for r in df.select(TX.quality_score("text")).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)
    assert scores[0] > scores[1]  # all-stopword text scores lower


def test_lang_guess_markers(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "der hund und die katze ist hier"),
            (3, "el gato y la casa es de madera"),
            (4, "le chat et les maisons est une belle"),
            (5, "中文文本"),
            (6, "xyzzy plugh qwerty"),
        ],
        ["id", "text"],
    )
    got = {r["id"]: r["g"] for r in df.select("id", TX.lang_guess("text").alias("g")).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "es"
    assert got[4] == "fr"
    assert got[5] == "zh"
    assert got[6] == "und"


def test_fingerprint_is_md5(spark):
    df = spark.createDataFrame([("abc",)], ["text"])
    assert df.select(TX.fingerprint("text")).collect()[0][0] == hashlib.md5(b"abc").hexdigest()


# -- multimodal -------------------------------------------------------------


def test_multimodal_feature_extraction(spark, docs):
    media = MM.synthesize_media(docs, "text", "doc_id")
    feats = {r["media_id"]: r for r in MM.extract_features(media).collect()}
    assert len(feats) == len(DOCS)
    for doc_id, text in DOCS:
        r = feats[doc_id]
        assert r["decode_ok"] is True
        if doc_id % 2 == 0:
            assert r["media_type"] == "image/png"
            assert (r["width"], r["height"]) == MM.synth_dims(doc_id)
            assert r["bit_depth"] == 8
            assert r["sample_rate"] is None and r["n_samples"] is None
            # checksum/n_bytes are over the REAL container payload
            payload = MM.encode_png(*MM.synth_dims(doc_id), text.encode())
        else:
            assert r["media_type"] == "audio/wav"
            rate, n = MM.synth_audio(doc_id)
            assert (r["sample_rate"], r["n_samples"]) == (rate, n)
            assert r["bit_depth"] == 16
            assert r["width"] is None and r["height"] is None
            data = text.encode()
            samples = (data * (2 * n // len(data) + 1))[: 2 * n]
            payload = MM.encode_wav(rate, samples)
        assert r["n_bytes"] == len(payload)
        assert r["checksum"] == hashlib.md5(payload).hexdigest()


def test_png_codec_roundtrip_and_validation(spark):
    png = MM.encode_png(7, 5, b"pixels")
    assert MM.decode_png_header(png) == (7, 5, 8, 0)
    with pytest.raises(ValueError, match="signature"):
        MM.decode_png_header(b"JFIF" + png)
    # flip one IHDR byte → CRC must catch it
    corrupt = png[:18] + bytes([png[18] ^ 0xFF]) + png[19:]
    with pytest.raises(ValueError, match="CRC"):
        MM.decode_png_header(corrupt)


def test_wav_codec_roundtrip_and_validation(spark):
    wav = MM.encode_wav(11000, b"\x01\x02" * 40)
    assert MM.decode_wav_header(wav) == (11000, 1, 16, 40)
    with pytest.raises(ValueError, match="magic"):
        MM.decode_wav_header(wav[4:])
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_wav_header(wav[:-10])


def test_corrupt_payload_survives_as_decode_ok_false(spark):
    good = MM.encode_png(4, 4, b"x")
    rows = [
        (1, bytearray(good), "image/png"),
        (2, bytearray(b"\x00garbage\x01"), "image/png"),
        (3, bytearray(MM.encode_wav(8000, b"ab")), "audio/wav"),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in MM.extract_features(media).collect()}
    assert feats[1]["decode_ok"] and feats[3]["decode_ok"]
    assert feats[2]["decode_ok"] is False
    assert feats[2]["width"] is None and feats[2]["bit_depth"] is None
    assert feats[2]["n_bytes"] == 9  # accounting still real for bad rows


def test_multimodal_frame_sampling(spark, docs):
    media = MM.synthesize_media(docs, "text", "doc_id")
    frames = MM.sample_frames(media, every_n=2, resize_to=32).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert set(by_media) == {d[0] for d in DOCS}
    for rows in by_media.values():
        assert all(r["width"] == 32 and r["height"] == 32 for r in rows)
        assert [r["frame_no"] for r in rows] == sorted(r["frame_no"] for r in rows)
        assert all(len(r["frame_bytes"]) > 0 for r in rows)
    # 1→N expansion really happened
    assert len(frames) > len(DOCS)


# -- merge / timeseries operators -------------------------------------------


def test_merge_upsert_routing(spark):
    from rippledb_engine.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "tag", "v"]
    )
    source = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], ["id", "tag", "v"]
    )
    got = {r["id"]: (r["tag"], r["v"]) for r in merge_upsert(target, source, "id").collect()}
    assert got == {
        1: ("a", 10.0),   # target-only passes through
        2: ("B", 99.0),   # collision: source wins
        3: ("c", 30.0),
        4: ("d", 40.0),   # source-only inserts
    }


def test_resample_fill_forward_fills_gaps(spark):
    from datetime import datetime

    from rippledb_engine.operators.timeseries import resample_fill

    rows = [
        ("k1", datetime(2024, 1, 1, 10, 15), 4.0),
        ("k1", datetime(2024, 1, 1, 10, 45), 6.0),   # hour 10 avg = 5.0
        ("k1", datetime(2024, 1, 1, 13, 0), 7.0),    # hours 11,12 are gaps
        ("k2", datetime(2024, 1, 1, 12, 30), 1.0),   # first seen hour 12
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "v"])
    out = {
        (r["k"], str(r["bucket_start"])): (r["value_filled"], r["is_gap"])
        for r in resample_fill(df, "k", "ts", "v").collect()
    }
    # spine spans the GLOBAL range 10:00..13:00 for both keys
    assert len(out) == 8
    assert out[("k1", "2024-01-01 10:00:00")] == (5.0, False)
    assert out[("k1", "2024-01-01 11:00:00")] == (5.0, True)   # forward-filled
    assert out[("k1", "2024-01-01 12:00:00")] == (5.0, True)
    assert out[("k1", "2024-01-01 13:00:00")] == (7.0, False)
    assert out[("k2", "2024-01-01 10:00:00")] == (None, True)  # before first obs
    assert out[("k2", "2024-01-01 12:00:00")] == (1.0, False)
    assert out[("k2", "2024-01-01 13:00:00")] == (1.0, True)


class TestPacking:
    """pack_by_token_budget: sharded equals per-shard single-stream."""

    @pytest.fixture(scope="class")
    def packs(self, spark):
        from rippledb_engine.operators.packing import pack_by_token_budget

        rows = [(i, "en" if i % 3 else "de", 10 + (i * 7) % 50) for i in range(1, 101)]
        df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tok"])
        single = pack_by_token_budget(df, "n_tok", "doc_id", ["lang"], 100, n_shards=0)
        sharded = pack_by_token_budget(df, "n_tok", "doc_id", ["lang"], 100, n_shards=4)
        return single.collect(), sharded.collect()

    def test_single_stream_is_exclusive_running_sum(self, packs):
        single, _ = packs
        by_lang = {}
        for r in sorted(single, key=lambda r: (r["lang"], r["doc_id"])):
            cum = by_lang.get(r["lang"], 0)
            assert r["pack_id"] == cum // 100
            assert r["shard"] == 0
            by_lang[r["lang"]] = cum + r["n_tok"]

    def test_sharded_partitions_rows_and_packs_within_shard(self, packs):
        single, sharded = packs
        assert len(sharded) == len(single)
        # Within every (lang, shard) stream the pack id is the same
        # exclusive-running-sum function, independently per shard.
        streams = {}
        for r in sorted(sharded, key=lambda r: (r["lang"], r["shard"], r["doc_id"])):
            key = (r["lang"], r["shard"])
            cum = streams.get(key, 0)
            assert 0 <= r["shard"] < 4
            assert r["pack_id"] == cum // 100
            streams[key] = cum + r["n_tok"]
        assert len(streams) > 2  # the hash actually spreads rows

    def test_shard_assignment_matches_duckdb_md5(self, packs):
        import hashlib as _h

        _, sharded = packs
        for r in sharded:
            expect = int(_h.md5(str(r["doc_id"]).encode()).hexdigest()[:4], 16) % 4
            assert r["shard"] == expect


def test_near_dup_cluster_transitivity(spark):
    """Pair-level dedup misses A~B~C transitivity; the cluster op must
    collapse the planted trio (1 exact-dup-of-2, 3 near-dup-of-1) into
    ONE cluster with doc 1 canonical."""
    from rippledb_engine.operators.graph import connected_components

    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])
    pairs = DD.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    clusters = {}
    for r in cc.collect():
        clusters.setdefault(r["comp"], set()).add(r["node"])
    assert clusters == {1: {1, 2, 3}}  # docs 4, 5 have no near-dups


# -- chunking ---------------------------------------------------------------


def test_chunk_by_tokens_windows_and_overlap(spark):
    from rippledb_engine.operators.chunking import chunk_by_tokens

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    out = sorted(
        (r["chunk_no"], r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_by_tokens(df, "text", "doc_id", 4, 1).collect()
    )
    # stride 3: windows [0:4) [3:7) [6:10) [9:10) — 1+ceil((10-4)/3)=3 → wait
    assert out == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
    ]


def test_chunk_by_tokens_short_doc_single_chunk(spark):
    from rippledb_engine.operators.chunking import chunk_by_tokens

    df = spark.createDataFrame([(1, "a b"), (2, "x")], ["doc_id", "text"])
    rows = chunk_by_tokens(df, "text", "doc_id", 8, 2).collect()
    got = {r["doc_id"]: (r["chunk_no"], r["n_chunk_tokens"], r["chunk_text"]) for r in rows}
    assert len(rows) == 2
    assert got[1] == (0, 2, "a b")
    assert got[2] == (0, 1, "x")


def test_chunk_by_tokens_exact_multiple_no_empty_tail(spark):
    from rippledb_engine.operators.chunking import chunk_by_tokens

    text = " ".join(f"t{i}" for i in range(8))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = chunk_by_tokens(df, "text", "doc_id", 4, 0).collect()
    assert sorted(r["chunk_no"] for r in rows) == [0, 1]
    assert all(r["n_chunk_tokens"] == 4 for r in rows)


def test_chunk_by_tokens_validates_params(spark):
    from rippledb_engine.operators.chunking import chunk_by_tokens

    df = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_by_tokens(df, "text", "doc_id", 0)
    with pytest.raises(ValueError):
        chunk_by_tokens(df, "text", "doc_id", 4, 4)


# -- frequent-span cleaning -------------------------------------------------


def test_remove_frequent_spans_cuts_boilerplate(spark):
    from rippledb_engine.operators.cleaning import remove_frequent_ngram_spans

    rows = [
        (1, "terms of service apply alpha beta gamma"),
        (2, "terms of service apply delta epsilon"),
        (3, "terms of service apply zeta eta theta"),
        (4, "totally unrelated words here only once"),
        (5, "ab"),  # shorter than n → untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["cleaned_text"])
        for r in remove_frequent_ngram_spans(df, "text", "doc_id", n=3, max_df=2).collect()
    }
    # trigrams 'terms of service' and 'of service apply' appear in 3 docs
    # (> cap 2) → positions 0-3 covered in docs 1-3
    assert out[1] == (7, 3, "alpha beta gamma")
    assert out[2] == (6, 2, "delta epsilon")
    assert out[3] == (7, 3, "zeta eta theta")
    assert out[4] == (6, 6, "totally unrelated words here only once")
    assert out[5] == (1, 1, "ab")


def test_remove_frequent_spans_overlapping_coverage(spark):
    from rippledb_engine.operators.cleaning import remove_frequent_ngram_spans

    # the frequent bigram 'x x' overlaps itself inside 'x x x' — covered
    # positions union, tokens are not double-removed or miscounted
    rows = [(i, "x x x tail%d" % i) for i in range(4)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["cleaned_text"]
           for r in remove_frequent_ngram_spans(df, "text", "doc_id", n=2, max_df=3).collect()}
    assert out == {i: "tail%d" % i for i in range(4)}


def test_remove_frequent_spans_no_frequent_is_identity(spark):
    from rippledb_engine.operators.cleaning import remove_frequent_ngram_spans

    rows = [(1, "a b c"), (2, "d e f")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["n_kept"], r["cleaned_text"])
           for r in remove_frequent_ngram_spans(df, "text", "doc_id", n=2, max_df=5).collect()}
    assert out == {1: (3, "a b c"), 2: (3, "d e f")}


def test_remove_frequent_spans_fully_covered_doc_survives(spark):
    """A document whose EVERY token sits inside frequent spans must still
    yield an output row (n_kept=0, cleaned_text='') — corpus accounting
    never silently loses documents (r6 contract fix)."""
    from rippledb_engine.operators.cleaning import remove_frequent_ngram_spans

    rows = [(i, "legal boilerplate") for i in range(4)] + [
        (9, "legal boilerplate plus real content")
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_tokens"], r["n_kept"], r["cleaned_text"])
        for r in remove_frequent_ngram_spans(df, "text", "doc_id", n=2, max_df=3).collect()
    }
    assert len(out) == 5  # every input doc surfaces
    for i in range(4):
        assert out[i] == (2, 0, "")
    assert out[9] == (5, 3, "plus real content")


def test_gif_codec_roundtrip():
    """encode_gif → decode_gif_frames recovers every frame's index, dims,
    and delay (r6: the real GIF block walk replacing the video stub)."""
    frames = [(3, 2, 10), (6, 4, 20), (1, 1, 0)]
    payload = MM.encode_gif(frames)
    got = MM.decode_gif_frames(payload)
    assert [(f["width"], f["height"], f["delay_cs"]) for f in got] == frames
    assert [f["frame_no"] for f in got] == [0, 1, 2]
    assert all(len(f["data"]) > 0 for f in got)


def test_gif_decoder_rejects_garbage():
    for bad in (b"", b"GIF89a", b"not a gif at all", MM.encode_gif([(2, 2, 0)])[:-2]):
        with pytest.raises(ValueError):
            MM.decode_gif_frames(bad)


def _lzw_encode(field: bytes, mcs: int) -> bytes:
    """Real (table-growing) GIF-LZW packer, used only to exercise the
    decoder's general path — the library encoder is fixed-width."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    codes, w = [clear], b""
    for c in field:
        wc = w + bytes([c])
        if wc in table:
            w = wc
        else:
            codes.append(table[w])
            table[wc] = next_code
            next_code += 1
            w = bytes([c])
    if w:
        codes.append(table[w])
    codes.append(end)
    buf, acc, nbits = bytearray(), 0, 0
    tbl_size, width, first = clear + 2, mcs + 1, True
    for code in codes:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
        if code == clear:
            tbl_size, width, first = clear + 2, mcs + 1, True
        elif code != end:
            if first:
                first = False
            else:
                tbl_size += 1  # decoder adds one entry per code after the first
            if tbl_size >= (1 << width) and width < 12:
                width += 1
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def test_gif_lzw_general_decode():
    """decode_gif_lzw handles the GENERAL stream family, not just the
    library's fixed-width trick: growing code tables with width
    escalation, the KwKwK (code == next slot) case, and CLEAR resets."""
    import random

    rng = random.Random(7)
    for mcs in (2, 3, 8):
        for _ in range(8):
            field = bytes(
                rng.randrange(1 << mcs) for _ in range(rng.randrange(1, 500))
            )
            assert MM.decode_gif_lzw(_lzw_encode(field, mcs), mcs) == field
    # KwKwK explicitly: a run of one symbol forces code == next slot
    run = b"\x01" * 9
    assert MM.decode_gif_lzw(_lzw_encode(run, 2), 2) == run
    with pytest.raises(ValueError, match="truncated"):
        MM.decode_gif_lzw(_lzw_encode(b"\x01\x02\x03", 2)[:-2], 2)


def test_gif_pattern_pixel_roundtrip():
    """encode_gif(pixels=...) → decode_gif_pixels recovers every frame's
    exact index field (r7: real GIF pixel decode)."""
    frames = MM.synth_gif_frames(11)
    fields = [
        MM.synth_gif_pixels(11, k, w, h) for k, (w, h, _) in enumerate(frames)
    ]
    out = MM.decode_gif_pixels(MM.encode_gif(frames, pixels=fields))
    assert [f["pixels"] for f in out] == fields
    out2 = MM.decode_gif_pixels(MM.encode_gif(frames, pixels=fields), every_n=2)
    assert [f["frame_no"] for f in out2] == list(range(0, len(frames), 2))
    with pytest.raises(ValueError, match="4-color"):
        MM.encode_gif([(2, 2, 0)], pixels=[b"\x00\x05\x00\x00"])
    with pytest.raises(ValueError, match="match dims"):
        MM.encode_gif([(2, 2, 0)], pixels=[b"\x00"])


def test_gif_deinterlace_reorders_rows():
    w, h = 3, 10
    display = [bytes([r] * w) for r in range(h)]
    order = (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )
    interlaced = b"".join(display[r] for r in order)
    assert MM.deinterlace_gif(interlaced, w, h) == b"".join(display)


def test_gif_frame_sampling_real(spark, docs):
    """sample_frames on image/gif payloads reports REAL per-frame dims
    and delays (id-deterministic via synth_gif_frames), sampled every_n."""
    media = MM.synthesize_gifs(docs, "doc_id")
    rows = MM.sample_frames(media, every_n=2).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, frs in by_media.items():
        plan = MM.synth_gif_frames(mid)
        want = list(enumerate(plan))[::2]
        got = sorted((r["frame_no"], (r["width"], r["height"], r["delay_cs"])) for r in frs)
        assert got == [(i, f) for i, f in want], mid


def test_pii_scrub_masks_and_counts(spark):
    from rippledb_engine.operators import pii

    rows = [
        (1, "mail bob.smith+x@corp.example.org now"),
        (2, "server at 192.168.0.12 port 80"),
        (3, "call 555-012-4567 today"),
        (4, "clean document, nothing to hide"),
        (5, "a@b.io and 10.0.0.1 and 800-555-1234"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: r for r in pii.scrub_pii(df, "text", "doc_id").collect()}
    assert out[1]["scrubbed_text"] == "mail <EMAIL> now"
    assert out[1]["n_emails"] == 1 and out[1]["n_ipv4"] == 0
    assert out[2]["scrubbed_text"] == "server at <IP> port 80"
    assert out[3]["scrubbed_text"] == "call <PHONE> today"
    assert out[4]["scrubbed_text"] == rows[3][1]  # identity on clean text
    assert (out[4]["n_emails"], out[4]["n_ipv4"], out[4]["n_phones"]) == (0, 0, 0)
    assert out[5]["scrubbed_text"] == "<EMAIL> and <IP> and <PHONE>"


def test_pii_placeholders_not_rematched(spark):
    """A later pattern in the chain must never match an earlier pattern's
    placeholder (tokens contain no digits/'@')."""
    from rippledb_engine.operators import pii

    df = spark.createDataFrame([(1, "x 1.2.3.4 y 555-123-4567")], ["doc_id", "text"])
    r = pii.scrub_pii(df, "text", "doc_id").collect()[0]
    assert r["scrubbed_text"] == "x <IP> y <PHONE>"
    assert r["n_ipv4"] == 1 and r["n_phones"] == 1


def test_remove_frequent_lines(spark):
    from rippledb_engine.operators.cleaning import remove_frequent_lines

    rows = [
        (1, "Cookie notice\nreal content one\nCopyright Footer"),
        (2, "cookie notice  \nreal content two\nCOPYRIGHT FOOTER"),
        (3, "Cookie Notice\nunique text\ncopyright footer"),
        (4, "all alone here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["cleaned_text"])
        for r in remove_frequent_lines(df, "text", "doc_id", max_df=2).collect()
    }
    # both boilerplate lines occur in 3 docs (normalized match across
    # case/whitespace) > cap 2 → removed everywhere
    assert out[1] == (3, 1, "real content one")
    assert out[2] == (3, 1, "real content two")
    assert out[3] == (3, 1, "unique text")
    assert out[4] == (1, 1, "all alone here")


def test_remove_frequent_lines_fully_boilerplate_doc_survives(spark):
    from rippledb_engine.operators.cleaning import remove_frequent_lines

    rows = [(i, "menu\nlogin") for i in range(4)] + [(9, "menu\nreal stuff")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: (r["n_kept"], r["cleaned_text"])
        for r in remove_frequent_lines(df, "text", "doc_id", max_df=3).collect()
    }
    assert len(out) == 5
    for i in range(4):
        assert out[i] == (0, "")
    assert out[9] == (1, "real stuff")


def test_bpe_learns_classic_merges(spark):
    """The Sennrich toy corpus: merges es → est → lo → low in order."""
    from rippledb_engine.operators.bpe import SEP, learn_bpe_merges

    text = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(text,)], ["text"])
    merges, words = learn_bpe_merges(df, "text", n_merges=4)
    assert [(m[1], m[2]) for m in merges] == [
        ("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")
    ]
    assert merges[0][3] == 9  # newest×6 + widest×3
    syms = {r["word"]: r["syms"].split(SEP + SEP) for r in words.collect()}
    assert syms["low"] == [SEP + "low" + SEP]
    assert [s.strip(SEP) for s in syms["newest"]] == ["n", "e", "w", "est"]


def test_bpe_merge_is_boundary_safe(spark):
    """A learned symbol must not merge across other symbols' boundaries:
    with words 'ba b ab', merging (a, b) must touch only a⋄b adjacencies,
    never the 'a' inside 'ba'."""
    from rippledb_engine.operators.bpe import SEP, learn_bpe_merges

    df = spark.createDataFrame([("ab ab ab ba ba b",)], ["text"])
    merges, words = learn_bpe_merges(df, "text", n_merges=1)
    assert (merges[0][1], merges[0][2]) == ("a", "b")
    syms = {r["word"]: r["syms"] for r in words.collect()}
    assert syms["ab"] == f"{SEP}ab{SEP}"
    assert syms["ba"] == f"{SEP}b{SEP}{SEP}a{SEP}"  # untouched


def test_bpe_early_stop_below_min_count(spark):
    from rippledb_engine.operators.bpe import learn_bpe_merges

    df = spark.createDataFrame([("xy",)], ["text"])
    merges, _ = learn_bpe_merges(df, "text", n_merges=5, min_pair_count=2)
    assert merges == []  # the only pair occurs once


def test_bigram_lm_scores(spark):
    """Repetitive text scores LOWER cross-entropy than varied text under
    the corpus-trained model; probabilities follow add-k arithmetic."""
    import math

    from rippledb_engine.operators.lm import bigram_lm_scores

    rows = [
        (1, "a a a a a a a a"),          # one dominant bigram
        (2, "q w e r t y u i"),          # all-unique bigrams
        (3, "a a a a q w e r"),
        (4, "solo"),                      # <2 tokens → no row
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["id"]: (r["n_bigrams"], r["h_bits"]) for r in
           bigram_lm_scores(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3}
    assert out[1][0] == 7 and out[2][0] == 7 and out[3][0] == 7
    assert out[1][1] < out[3][1] < out[2][1]
    # hand-check doc 1: C(a,a)=10 (docs 1+3), C(a·)=11, V=10 (incl.
    # 'solo') → p=(10+.5)/(11+.5*10)=10.5/16; H = -log2(p)
    want = round(-math.log2(10.5 / 16.0), 4)
    assert abs(out[1][1] - want) < 1e-9


def test_prefix_containment_pairs(spark):
    from rippledb_engine.operators.dedup import prefix_containment_pairs

    long = " ".join(f"w{i}" for i in range(30))
    prefix20 = " ".join(f"w{i}" for i in range(20))
    other = " ".join(f"x{i}" for i in range(25))
    short = "tiny doc"  # under key_tokens → never considered
    rows = [(1, long), (2, prefix20), (3, other), (4, short), (5, long)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["contained_id"], r["container_id"])
        for r in prefix_containment_pairs(df, "text", "doc_id").collect()
    )
    # 2 is a prefix of both copies of the long doc; equal texts (1,5) are
    # NOT emitted (exact dedup's jurisdiction); short/other match nothing
    assert got == [(2, 1), (2, 5)]


def test_bigram_lm_heldout_unseen_mass(spark):
    """Scoring a held-out set against a separately-trained model: unseen
    bigrams take the smoothed mass k/(C(a.)+kV); a wholly-unseen context
    scores k/(kV) = 1/V."""
    import math

    from rippledb_engine.operators.lm import bigram_lm_scores

    train = spark.createDataFrame([(0, "a b a b c d")], ["doc_id", "text"])
    held = spark.createDataFrame(
        [(1, "a b"), (2, "z q"), (3, "a z")], ["doc_id", "text"]
    )
    out = {r["id"]: r["h_bits"] for r in
           bigram_lm_scores(held, "text", "doc_id", train_df=train).collect()}
    # seen (a,b): (2+.5)/(2+.5*4) = 2.5/4
    assert abs(out[1] - round(-math.log2(2.5 / 4.0), 4)) < 1e-9
    # unseen context (z,*): .5/(.5*4) = 1/4 → 2 bits
    assert out[2] == 2.0
    # unseen bigram under the SEEN context a: .5/(2+.5*4) = 1/8 → 3 bits
    assert out[3] == 3.0


# -- pixel decode + resize (r6: the former pixel-level stub) ----------------


def test_png_pixel_roundtrip():
    px = bytes((31 * 5 + 7 * k) % 256 for k in range(12 * 9))
    payload = MM.encode_png(12, 9, px)
    w, h, got = MM.decode_png_pixels(payload)
    assert (w, h) == (12, 9)
    assert got == px


def _encode_png_filtered(width, height, px, filter_type):
    """Writer twin applying a NON-zero scanline filter, to prove the
    decoder reverses filters the module's own writer never emits."""
    import struct as S
    import zlib as Z

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    prev = bytes(width)
    for y in range(height):
        line = px[y * width : (y + 1) * width]
        raw.append(filter_type)
        for x in range(width):
            left = line[x - 1] if x else 0
            ul = prev[x - 1] if x else 0
            if filter_type == 1:
                raw.append((line[x] - left) & 0xFF)
            elif filter_type == 2:
                raw.append((line[x] - prev[x]) & 0xFF)
            elif filter_type == 3:
                raw.append((line[x] - ((left + prev[x]) >> 1)) & 0xFF)
            elif filter_type == 4:
                raw.append((line[x] - paeth(left, prev[x], ul)) & 0xFF)
            else:
                raw.append(line[x])
        prev = line

    def chunk(tag, body):
        return (
            S.pack(">I", len(body))
            + tag
            + body
            + S.pack(">I", Z.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = S.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", Z.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_unfilter_all_five_types():
    px = bytes((k * k + 3 * k) % 256 for k in range(10 * 6))
    for ft in (0, 1, 2, 3, 4):
        payload = _encode_png_filtered(10, 6, px, ft)
        w, h, got = MM.decode_png_pixels(payload)
        assert (w, h, got) == (10, 6, px), f"filter {ft}"


def test_png_pixel_decode_rejects_corruption():
    import pytest as PT

    payload = bytearray(MM.encode_png(6, 4, bytes(range(24))))
    payload[40] ^= 0xFF  # flip a byte inside IDAT → CRC mismatch
    with PT.raises(ValueError):
        MM.decode_png_pixels(bytes(payload))
    # non-grayscale rejected loudly (header decode still fine)
    rgb_ihdr = MM.encode_png(2, 2, b"\x00" * 4)
    with PT.raises(ValueError):
        # patch color type to 2 (truecolor) with a fixed-up CRC
        import struct as S
        import zlib as Z

        body = bytearray(rgb_ihdr[16:29])
        body[9] = 2
        patched = (
            rgb_ihdr[:16]
            + bytes(body)
            + S.pack(">I", Z.crc32(b"IHDR" + bytes(body)) & 0xFFFFFFFF)
            + rgb_ihdr[33:]
        )
        MM.decode_png_pixels(patched)


def test_resize_nearest_floor_map():
    # 4x2 source, resize to 2x2: out[i][j] = src[i*2//2][j*4//2]... wait,
    # yi = (i*2)//2 = i, xi = (j*4)//2 = 2j → picks columns 0 and 2
    src = bytes([10, 20, 30, 40, 50, 60, 70, 80])
    out = MM.resize_nearest(4, 2, src, 2, 2)
    assert list(out) == [10, 30, 50, 70]
    # identity resize is a no-op
    assert MM.resize_nearest(4, 2, src, 4, 2) == src
    # upscale repeats nearest pixels
    up = MM.resize_nearest(2, 1, bytes([1, 9]), 4, 1)
    assert list(up) == [1, 1, 9, 9]


def test_resize_images_operator(spark):
    df = spark.range(0, 6).withColumnRenamed("id", "doc_id")
    media = MM.synthesize_pattern_pngs(df, "doc_id")
    rows = {
        r["media_id"]: r
        for r in MM.resize_images(media, out_w=8, out_h=8).collect()
    }
    assert len(rows) == 6
    for mid, r in rows.items():
        assert r["decode_ok"]
        w, h = MM.synth_dims(mid)
        assert (r["src_width"], r["src_height"]) == (w, h)
        # closed-form expectation, same floor map as the oracle
        px = MM.synth_pattern_pixels(mid, w, h)
        exp = [
            px[((i * h) // 8) * w + (j * w) // 8]
            for i in range(8)
            for j in range(8)
        ]
        assert r["pixel_sum"] == sum(exp)
        assert r["pixel_wsum"] == sum((k + 1) * v for k, v in enumerate(exp))
        # the re-encoded payload decodes back to the resized pixels
        w2, h2, px2 = MM.decode_png_pixels(bytes(r["payload"]))
        assert (w2, h2) == (8, 8)
        assert list(px2) == exp


def test_resize_images_corrupt_payload_survives(spark):
    import pandas as pd

    media = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_id": [1, 2],
                "payload": [MM.encode_png(4, 4, bytes(16)), b"not a png"],
                "media_type": ["image/png", "image/png"],
            }
        ),
        schema=MM.MEDIA_SCHEMA,
    )
    rows = {r["media_id"]: r for r in MM.resize_images(media).collect()}
    assert rows[1]["decode_ok"] is True
    assert rows[2]["decode_ok"] is False and rows[2]["pixel_sum"] is None


def test_scratch_dir_registers_atexit_cleanup(tmp_path, monkeypatch):
    """Round-trip scratch dirs (WARC/crawl/backup) can't be removed before
    their lazy read-back is consumed, so they register for atexit removal
    instead of leaking one corpus-sized dir per process (r6 ADVICE)."""
    import os

    from rippledb_spark import tables

    monkeypatch.setattr(tables.tempfile, "gettempdir", lambda: str(tmp_path))
    d = tables.scratch_dir("rippledb_test_scratch", "/data/sf0.01")
    assert str(tmp_path) in d and str(os.getpid()) in d
    os.makedirs(d)
    with open(os.path.join(d, "part-0"), "w") as f:
        f.write("payload")
    assert d in tables._SCRATCH_DIRS
    tables._cleanup_scratch()  # what atexit runs
    assert not os.path.exists(d)
    tables._SCRATCH_DIRS.discard(d)


def test_scratch_dir_unique_per_call_within_process(tmp_path, monkeypatch):
    """Two builds of the same (prefix, sf) in ONE process — two
    SparkSessions, or one session planning twice — must get distinct
    dirs, or the second call's rmtree deletes the first build's data
    between its eager write and lazy read-back (r7 ADVICE #9)."""
    import os

    from rippledb_spark import tables

    monkeypatch.setattr(tables.tempfile, "gettempdir", lambda: str(tmp_path))
    d1 = tables.scratch_dir("rippledb_test_scratch", "/data/sf0.01")
    os.makedirs(d1)
    with open(os.path.join(d1, "part-0"), "w") as f:
        f.write("payload")
    d2 = tables.scratch_dir("rippledb_test_scratch", "/data/sf0.01")
    assert d1 != d2
    assert os.path.exists(os.path.join(d1, "part-0"))  # d1 untouched
    tables._cleanup_scratch()
    tables._SCRATCH_DIRS.difference_update({d1, d2})


def test_apply_bpe_merges_frozen_list(spark):
    """r9: the frozen-merges encode path — greedy left-to-right merge
    application per word, word boundaries never merged, token counts and
    the symbol digest exact."""
    from rippledb_engine.operators.bpe import apply_bpe_merges

    rows = [(0, "abab ab"), (1, "aaa"), (2, ""), (3, "xy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # merges learned elsewhere, applied frozen: (a,b)->ab, (ab,ab)->abab
    out = {
        r["doc_id"]: (r["n_words"], r["n_tokens"])
        for r in apply_bpe_merges(
            df, "text", "doc_id", [("a", "b"), ("ab", "ab")]
        ).collect()
    }
    # "abab" -> a b a b -> ab ab -> abab (1 token); "ab" -> ab (1 token)
    assert out[0] == (2, 2)
    # "aaa" -> a a a: merge (a,b) never fires -> 3 tokens
    assert out[1] == (1, 3)
    assert out[2] == (0, 0)
    assert out[3] == (1, 2)  # x y untouched
    # determinism: identical inputs give identical digests
    a = apply_bpe_merges(df, "text", "doc_id", [("a", "b")]).collect()
    b = apply_bpe_merges(df, "text", "doc_id", [("a", "b")]).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_dedup_paragraphs_first_occurrence_semantics(spark):
    """r10 CCNet paragraph dedup: repeated normalized paragraphs keep
    ONLY the lowest-(doc, position) occurrence; empty paragraphs are
    always kept (formatting); within-doc repeats dedup too; every doc
    yields exactly one row."""
    from rippledb_engine.operators.cleaning import dedup_paragraphs

    rows = [
        (0, "alpha\nShared Par\nbeta"),
        (1, "shared par\ngamma"),          # differs only by case: dup
        (2, "delta\n\ndelta"),             # within-doc repeat + empty par
        (3, "  shared par  \nepsilon"),    # trim-normalized dup
        (4, ""),                           # single empty paragraph
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_paragraphs"], r["n_kept"], r["cleaned_text"])
        for r in dedup_paragraphs(df, "text", "doc_id").collect()
    }
    assert len(out) == 5
    # doc 0 holds the first occurrence of 'shared par' -> intact
    assert out[0] == (3, 3, "alpha\nShared Par\nbeta")
    # docs 1 and 3 lose their copy, keep their unique paragraph
    assert out[1] == (2, 1, "gamma")
    assert out[3] == (2, 1, "epsilon")
    # within-doc repeat: second 'delta' goes; the empty paragraph stays
    assert out[2] == (3, 2, "delta\n")
    # an all-empty doc keeps its (empty) formatting row
    assert out[4] == (1, 1, "")


def test_content_defined_chunks_resync_and_twin(spark):
    """r10 CDC chunking: boundaries depend only on content, so a shared
    passage at DIFFERENT offsets re-synchronizes to identical chunk
    hashes; tokens are conserved; the DuckDB twin replays exactly."""
    import duckdb as _dd

    from rippledb_engine.operators.chunking import (
        content_defined_chunks,
        content_defined_chunks_sql,
    )

    shared = " ".join(f"w{(i * 13) % 37}" for i in range(40))
    rows = [
        (0, "alpha " + shared),
        (1, "beta gamma delta epsilon " + shared),  # 4-token shift
        (2, "unrelated text entirely different tokens here"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = content_defined_chunks(df, "text", "doc_id", w=3, divisor=8)
    got = sorted(map(tuple, out.collect()))
    con = _dd.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?,?)", rows)
    cte = content_defined_chunks_sql("docs", "text", "doc_id", w=3, divisor=8)
    want = sorted(
        map(
            tuple,
            con.execute(
                f"WITH {cte} SELECT doc_id, chunk_no, n_chunk_tokens,"
                " chunk_hash, chunk_text FROM cdc_chunks"
            ).fetchall(),
        )
    )
    assert got == want
    h = {}
    tok_tot = {}
    for doc, _, n, ch, _t in got:
        h.setdefault(doc, set()).add(ch)
        tok_tot[doc] = tok_tot.get(doc, 0) + n
    # the shifted copies share every interior chunk (only the lead-in
    # chunk blends with each doc's own prefix)
    assert len(h[0] & h[1]) >= len(h[0]) - 2
    assert not (h[0] & h[2])          # unrelated text shares nothing
    assert 3 not in h                  # empty doc yields no chunks
    assert tok_tot[0] == 41 and tok_tot[1] == 44  # token conservation
    import pytest as _pt
    with _pt.raises(ValueError, match="divisor"):
        content_defined_chunks(df, "text", "doc_id", divisor=1)
    with _pt.raises(ValueError, match="w must"):
        content_defined_chunks_sql("t", "x", "id", w=0)
