"""Scale patterns: salting equivalence + bucketed co-located joins.

These assert PLAN PROPERTIES (what ships to a cluster), not just values."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rippledb_engine.operators.skew import bucketed_table, salted_join, two_phase_agg
from rippledb_engine.tables import load


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share key 0 — a monster key.
    return spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        (F.col("id") * 2).alias("v"),
    )


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.range(0, 2000, 10).select(F.col("id").alias("k"), F.concat(F.lit("n"), "id").alias("name"))
    plain = skewed.join(dim, "k").select("k", "v", "name")
    salted = salted_join(skewed, dim, on="k", n_salts=8).select("k", "v", "name")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_matches_plain_agg(spark, skewed):
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in skewed.groupBy("k").agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")).collect()
    }
    salted = {
        (r["k"]): (r["total_v"], r["n_rows"])
        for r in two_phase_agg(skewed, ["k"], {"v": "total_v"}, n_salts=8).collect()
    }
    assert plain == salted


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path_factory):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    bo = bucketed_table(o, "b_orders", "o_orderkey", n_buckets=4)
    bl = bucketed_table(l, "b_lineitem", "l_orderkey", n_buckets=4)
    joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # co-located: no hash-partitioning exchange feeds the join
    assert "Exchange hashpartitioning" not in plan
    # sanity: result matches the unbucketed join
    assert joined.count() == o.join(l, o.o_orderkey == l.l_orderkey).count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_persisted_store_prunes_predicate_partitions(spark, tmp_path_factory):
    """A bound-predicate pattern on a persisted store must read ONE
    partition — the storage analogue of the reference's per-predicate
    K2Tree slice selection (graph.rs:36, SURVEY §1.4)."""
    from rippledb_spark import TripleStore

    rows = [(f"s{i}", f"p{i % 5}", f"o{i}") for i in range(100)]
    st = TripleStore.from_rows(spark, rows)
    path = str(tmp_path_factory.mktemp("store") / "triples")
    st.persist_to(path)
    restored = TripleStore.from_backup(spark, path)
    df = restored.pattern(None, "p3", None)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(p" in plan.replace("#", "").replace("\n", " ") or \
           "PartitionFilters" in plan and "p3" in plan
    assert df.count() == 20


def test_bucketed_percent_rank_exact_with_duplicates(spark):
    """The bucketed composition must equal the global-window definition
    exactly, including duplicated values that straddle quantile cuts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from rippledb_engine.operators.distribution import bucketed_percent_rank

    rows = [(i, float(v)) for i, v in enumerate([5, 5, 5, 1, 2, 2, 9, 9, 9, 9, 3, 7] * 5)]
    df = spark.createDataFrame(rows, ["id", "v"])
    got = {
        r["id"]: (r["pct_rank"], r["cume_dist"])
        for r in bucketed_percent_rank(df, "v", ["id"], n_buckets=4).collect()
    }
    w = Window.orderBy("v", "id")
    want = {
        r["id"]: (r["pr"], r["cd"])
        for r in df.select(
            "id", F.percent_rank().over(w).alias("pr"), F.cume_dist().over(w).alias("cd")
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-12, k
        assert abs(got[k][1] - want[k][1]) < 1e-12, k


def test_banded_range_count_matches_window(spark):
    """banded_range_count == the RANGE-frame window definition, including
    duplicate values and band-boundary values (exact multiples of the
    radius land on a band edge)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from rippledb_engine.operators.distribution import banded_range_count

    vals = [0.0, 10.0, 10.0, 49.9, 50.0, 50.1, 99.9, 100.0, 150.0, 155.5, 250.0]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["id", "v"]
    )
    got = {
        r["id"]: r["n_in_band"]
        for r in banded_range_count(df, "v", 50.0).collect()
    }
    w = Window.orderBy("v").rangeBetween(-50, 50)
    want = {
        r["id"]: r["n"]
        for r in df.select("id", F.count(F.lit(1)).over(w).alias("n")).collect()
    }
    assert got == want


def test_scaled_compositions_have_no_single_partition_exchange(spark):
    """Plan-shape regression guard: the r4 scaled compositions exist
    precisely to avoid the global-window SinglePartition exchange — lock
    that property so a refactor can't silently reintroduce it."""
    from rippledb_engine.queries.pipeline4 import pack_documents_token_budget
    from rippledb_engine.queries.relational5 import (
        percentile_rank_customers_bucketed,
        price_band_neighbors_banded,
    )

    sf_dir = "/root/testdata/sf0.001"
    for fn in (
        percentile_rank_customers_bucketed,
        price_band_neighbors_banded,
        pack_documents_token_budget,
    ):
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, fn.__name__


def test_banded_range_count_negative_values(spark):
    """floor(v/r) banding must stay correct across zero and for negative
    values (floor, not truncate-toward-zero)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from rippledb_engine.operators.distribution import banded_range_count

    vals = [-120.0, -50.0, -49.9, -0.1, 0.0, 0.1, 49.9, 50.0, 120.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], ["id", "v"])
    got = {
        r["id"]: r["n_in_band"] for r in banded_range_count(df, "v", 50.0).collect()
    }
    w = Window.orderBy("v").rangeBetween(-50, 50)
    want = {
        r["id"]: r["n"]
        for r in df.select("id", F.count(F.lit(1)).over(w).alias("n")).collect()
    }
    assert got == want


def test_bucketed_percent_rank_random_seeds(spark):
    """A few random shapes (heavy duplicates, skew, tiny n) against the
    global-window definition."""
    import random

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from rippledb_engine.operators.distribution import bucketed_percent_rank

    for seed in range(3):
        rng = random.Random(seed)
        n = rng.choice([1, 7, 60])
        vals = [float(rng.choice([1, 2, 2, 2, 5, 100])) for _ in range(n)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], ["id", "v"]
        )
        got = {
            r["id"]: (r["pct_rank"], r["cume_dist"])
            for r in bucketed_percent_rank(df, "v", ["id"], n_buckets=4).collect()
        }
        w = Window.orderBy("v", "id")
        want = {
            r["id"]: (r["pr"], r["cd"])
            for r in df.select(
                "id",
                F.percent_rank().over(w).alias("pr"),
                F.cume_dist().over(w).alias("cd"),
            ).collect()
        }
        for k in want:
            assert abs(got[k][0] - want[k][0]) < 1e-12, (seed, k)
            assert abs(got[k][1] - want[k][1]) < 1e-12, (seed, k)


def test_substring_dedup_plan_shape(spark):
    """r8 exact-substring dedup: the duplicate gate must stay ONE
    fp-keyed window (no groupBy-plus-join recompute of the positions),
    nothing cartesian, and no single-partition exchange."""
    from rippledb_engine.operators.dedup import duplicated_substring_runs

    d = load(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        duplicated_substring_runs(d, "text", "doc_id", n=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    # exactly one Generate (the window explode) — a second one would mean
    # the position frame is being recomputed for the gate
    assert plan.count("Generate") == 1, plan.count("Generate")


def test_bm25_topk_plan_shape(spark):
    """r9 (verdict ask #3): the BM25 top-k must plan as
    TakeOrderedAndProject — the per-partition-heads global top-k — so no
    partition ever carries more than topk candidate rows. The old form
    relied on Spark 4.x's InferWindowGroupLimit rescuing a rank-filtered
    unpartitioned window; this pins the scale-safe shape explicitly."""
    from rippledb_engine.operators.retrieval import bm25_topk

    d = load(spark, "/root/testdata/sf0.001", "documents")
    q = bm25_topk(d, "text", "doc_id", ["the", "data"], topk=10)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_batch_plan_shape(spark):
    """r10 (verdict ask #3): the batched form's query-partitioned rank
    window must plan as WindowGroupLimit (per-partition top-k pre-filter
    before the shuffle, then a final pass after it) — the shape where no
    single partition ever carries more than topk rows per query. Unlike
    the single-query form (TakeOrderedAndProject by construction), the
    batch form genuinely depends on this optimizer rule, so a silent
    plan-shape regression here is exactly what the r8 BM25 finding was
    about."""
    from rippledb_engine.operators.retrieval import bm25_topk_batch

    d = load(spark, "/root/testdata/sf0.001", "documents")
    q = spark.createDataFrame(
        [("q1", "the"), ("q1", "data"), ("q2", "model")],
        "query_id string, term string",
    )
    plan = (
        bm25_topk_batch(d, "text", "doc_id", q, topk=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # both halves of the rule: a Partial limit before the query_id
    # shuffle and a Final one after it
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_pq_query_path_broadcasts_lookup_table(spark):
    """r8 PQ/ADC: the corpus-side join against the lookup table must be
    a broadcast join (the lt is nq·m·k rows), never a cartesian."""
    from rippledb_engine.operators.pq import pq_adc_topk

    df = spark.range(0, 64).select(
        F.col("id").alias("pid"),
        F.array(*[(F.col("id") % 4 + F.col("id") / 100.0)] * 8).alias("vec"),
    )
    plan = (
        pq_adc_topk(df, "vec", "pid", dims=8, m=2, k=2, n_queries=2, topk=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivfpq_query_path_broadcasts_and_never_cartesians_the_corpus(spark):
    """r9 IVF-PQ: the ADC join against the lookup table must be a
    broadcast equi-join on (cell, s, cid) — the inverted-list prune IS
    that key — and nothing in the query path may cartesian the corpus
    (the only cross joins are against broadcast 1-row/k-row frames and
    the bounded exact-twin certification block)."""
    from rippledb_engine.operators.pq import ivfpq_topk

    df = spark.range(0, 64).select(
        F.col("id").alias("pid"),
        F.array(*[(F.col("id") % 4 + F.col("id") / 100.0)] * 8).alias("vec"),
    )
    plan = (
        ivfpq_topk(df, "vec", "pid", dims=8, ncells=4, nprobe=2, m=2, k=2,
                   n_queries=2, topk=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_sketch_topk_windows_plan_as_window_group_limit(spark):
    """r10 sketches: the KMV k-minimum and A-Res top-k are
    group-partitioned rank windows — they must plan as WindowGroupLimit
    (per-partition pre-filter) so no partition ever carries more than k
    rows per group, and nothing cartesians."""
    import pyspark.sql.functions as F2

    from rippledb_engine.operators.sketches import (
        kmv_distinct_by_group,
        weighted_sample_by_group,
    )

    df = spark.range(0, 4000).select(
        F2.col("id"),
        F2.concat(F2.lit("g"), (F2.col("id") % 3)).alias("grp"),
        F2.concat(F2.lit("v"), (F2.col("id") % 97)).alias("v"),
        (F2.col("id") % 5 + 1).cast("double").alias("wt"),
    )
    for out in (
        kmv_distinct_by_group(df, "v", "grp", k=16),
        weighted_sample_by_group(df, "id", "wt", "grp", k=3),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan
        assert "CartesianProduct" not in plan


def test_ivfpq_rerank_fetch_is_broadcast_never_cartesian(spark):
    """r10: the two-stage re-rank's candidate fetch must be a broadcast
    join of the nq·R shortlist against the corpus — the exact-distance
    arithmetic runs on R·nq rows, never corpus×queries. The only
    non-equi join allowed is the bounded certification twin."""
    from rippledb_engine.operators.pq import ivfpq_rerank_topk

    df = spark.range(0, 64).select(
        F.col("id").alias("pid"),
        F.array(*[(F.col("id") % 4 + F.col("id") / 100.0)] * 8).alias("vec"),
    )
    plan = (
        ivfpq_rerank_topk(df, "vec", "pid", dims=8, ncells=4, nprobe=2,
                          m=2, k=2, n_queries=2, shortlist=8, topk=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pretraining_pipeline_single_partition_only_for_scalar_aggs(spark):
    """r9 composition guard: every window in the end-to-end pipeline is
    shard-keyed. The only SinglePartition exchanges allowed are the
    grand-total normalizer combines (zero-key HashAggregate over
    per-language PARTIAL rows — bounded by #languages × #tasks, the
    standard scalar-agg shape); a refactor reintroducing a global
    window or sort would trip this."""
    from rippledb_engine.queries.pipeline7 import (
        pretraining_pipeline_accounting,
    )

    plan = (
        pretraining_pipeline_accounting(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            assert "HashAggregate(keys=[]" in child, (
                "SinglePartition feeding a non-scalar-agg operator:\n"
                + "\n".join(lines[max(0, i - 3) : i + 2])
            )


def test_saved_index_query_path_prunes_partitions(spark, tmp_path_factory):
    """r10 (verdict ask #2 — the r9 pin moved onto the API): an index
    persisted with pq.save_index stores codes partitionBy("cell"), and
    pq.ivfpq_query_topk's probed-cells literal filter reaches that scan
    as PartitionFilters — the executors never open files outside the
    probed cells. The bigint cast load_index applies must not break the
    pruning (Catalyst unwraps it)."""
    from rippledb_engine.operators.pq import (
        ivfpq_index,
        ivfpq_query_topk,
        load_index,
        save_index,
    )

    df = spark.range(0, 64).select(
        F.col("id").alias("pid"),
        F.array(*[(F.col("id") % 4 + F.col("id") / 100.0)] * 8).alias("vec"),
    )
    assign, coarse, codes, books = ivfpq_index(
        df, "vec", "pid", dims=8, ncells=4, m=2, k=2
    )
    path = str(tmp_path_factory.mktemp("ivfpq") / "store")
    save_index(path, assign, coarse, codes, books)
    lcoarse, lbooks, lcellcodes = load_index(spark, path)
    queries = df.select(
        F.col("pid").alias("q_pid"), F.col("vec").alias("qv")
    ).orderBy("q_pid").limit(2)
    out = ivfpq_query_topk(
        queries, lcoarse, lbooks, lcellcodes, dims=8, m=2, nprobe=1, topk=3
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    flat = plan.replace("\n", " ")
    # the probed-cells filter is partition-level at the codes scan
    assert "PartitionFilters" in flat and "cell" in flat, flat
    assert "CartesianProduct" not in plan
    assert out.count() == 6  # 2 queries x top-3
    # direct read sanity: the store's layout itself prunes
    probed = spark.read.parquet(f"{path}/codes").where(
        F.col("cell").isin(0, 1)
    )
    assert probed.count() == assign.where(F.col("cell").isin(0, 1)).count() * 2


def test_classifier_serving_is_broadcast_shuffle_free(spark):
    """r11: logistic_predict must plan as one broadcast of the 1-row
    weight vector against the corpus — NO shuffle exchange anywhere
    (the exp-free serving contract in operators/classifier.py)."""
    from rippledb_engine.operators.classifier import (
        logistic_predict,
        logistic_train,
    )

    df = spark.createDataFrame(
        [([1.0, float(v)], 1.0 if v > 0 else 0.0) for v in (-2, -1, 1, 2)],
        "x array<double>, y double",
    )
    w = logistic_train(df, "x", "y", 2, iterations=2)
    ids = df.select(F.monotonically_increasing_id().alias("id"), "x")
    plan = (
        logistic_predict(ids, "x", "id", w, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan
    # every Exchange must be the broadcast — no shuffle in serving
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "BroadcastExchange" in line, line


def test_unigram_serving_join_is_broadcastable(spark):
    """r11: unigram_doc_tokens joins the corpus word stream to the
    (small) word→segmentation table — the broadcast side must be the
    segmentation table, never the corpus."""
    from rippledb_engine.operators.unigram import (
        distinct_words,
        seed_vocab,
        viterbi_segment,
    )

    df = spark.createDataFrame(
        [("the fast window fast the",), ("slow window the",)], "text string"
    )
    words = distinct_words(df, "text")
    seg = viterbi_segment(words, seed_vocab(words)).select(
        "word", F.size("pieces").alias("np")
    )
    docw = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    plan = (
        docw.join(F.broadcast(seg), "word")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phash_hamming_pairs_plan_shape(spark):
    """r13 perceptual-hash blocking: the pair stage must be the banded
    EQUI-join (hash-partitionable on (band, bv)) — never a cartesian or
    nested-loop product, and no single-partition exchange anywhere."""
    from rippledb_engine.operators.imagehash import hamming_pairs

    hashes = spark.range(64).select(
        F.col("id").alias("media_id"),
        (F.col("id") * 7919 % 4294967296).alias("hash_hi"),
        (F.col("id") * 104729 % 4294967296).alias("hash_lo"),
    )
    plan = (
        hamming_pairs(hashes)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_near_dup_drops_decodes_once(spark):
    """r14 (VERDICT "what's wrong" #2): near_dup_drops consumes its
    hashes frame through LAZY localCheckpoints, so the upstream decode
    pipeline (an Arrow MapInPandas) appears in NO branch of the final
    plan — each union branch reads the one materialized frame instead
    of re-deriving it (pre-fix the groupBy over the decode ran once per
    branch)."""
    from rippledb_engine.operators import imagehash as IH

    media = IH.synthesize_group_pngs(
        spark.range(8).select(F.col("id").alias("doc_id")), "doc_id"
    )
    plan = (
        IH.near_dup_drops(IH.ahash_images(media))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInPandas" not in plan, "decode pipeline re-derived in a branch"
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan


def test_media_synthesizers_spread_across_cores(spark):
    """r15: every id→payload fixture generator hash-spreads its tiny id
    input across defaultParallelism BEFORE the heavyweight Arrow kernel
    (guide §2.5 input skew) — the synth+decode mapInPandas chain used to
    run in ONE task because the id table is a single parquet split. The
    spread must (a) yield defaultParallelism partitions, and (b) change
    no payload byte (hash placement only re-routes rows)."""
    from rippledb_engine.operators import multimodal as MM
    from rippledb_engine.operators.mpeg1 import encode_mpeg1_intra

    big = spark.range(16000).select(F.col("id").alias("doc_id")).coalesce(1)
    media = MM.synthesize_mpeg1_streams(big, "doc_id")
    assert (
        media.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    ids = spark.range(40).select(F.col("id").alias("doc_id")).coalesce(1)
    media = MM.synthesize_mpeg1_streams(ids, "doc_id")
    rows = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    assert len(rows) == 40
    w, h, nf, rate = MM.synth_mpeg1_dims(7)
    assert rows[7] == encode_mpeg1_intra(
        w,
        h,
        [MM.synth_mpeg1_planes(7, f) for f in range(nf)],
        rate_code=rate,
    )


def test_spread_gates_on_estimated_input_size(spark):
    """r16 (VERDICT r15 #2): the spread width is capped by the
    optimizer's size estimate — a below-one-task's-work frame skips the
    exchange outright (identity plan), an unknown-size frame keeps the
    full width, and the sf0.1-scale estimate keeps the measured r15
    widths."""
    from rippledb_engine.operators.multimodal import spread_media_ids
    from rippledb_engine.operators.skew import (
        _estimated_rows,
        spread_for_compute,
    )

    tiny = spark.range(40).select(F.col("id").alias("media_id")).coalesce(1)
    est = _estimated_rows(tiny)
    assert est is not None and est < 48
    spread = spread_media_ids(tiny, heavy=True)
    assert "Exchange" not in spread._jdf.queryExecution().executedPlan().toString()
    assert spread_for_compute(tiny, "media_id") is tiny

    big = spark.range(16000).select(F.col("id").alias("media_id"))
    assert (
        spread_media_ids(big, heavy=True).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    # checkpointed leaf: LogicalRDD still carries the estimate — the
    # gate keeps working across the langid/pq checkpoint boundaries
    ck = tiny.localCheckpoint(eager=True)
    assert _estimated_rows(ck) is not None and _estimated_rows(ck) < 48
    assert spread_for_compute(ck, "media_id") is ck

    # unreadable / absurd estimates are treated as unknown → full width
    class _Stub:
        _jdf = None  # attribute access works, call raises → None

    assert _estimated_rows(_Stub()) is None
