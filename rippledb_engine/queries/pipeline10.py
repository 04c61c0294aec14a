"""Round-12 query pack: the trained multiclass language-ID classifier
(deterministic softmax regression over hashed char-ngram features — the
learned lang-ID gate production corpus pipelines run beside this repo's
heuristic char-trigram profile) and its serving-path composition as a
corpus-cleaning gate.

Every query follows the house contract: identical column aliases in
Spark and the DuckDB oracle, 6dp-rounded materialized intermediates,
integer-exact reductions wherever a sum crosses engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_engine.functions.text import token_count, token_count_sql
from rippledb_engine.operators.langid import (
    char_ngram_hash_features,
    char_ngram_hash_features_sql,
    softmax_predict,
    softmax_train,
    softmax_train_sql,
)
from rippledb_engine.registry import query
from rippledb_engine.tables import load

# --- planted-language fixture -------------------------------------------
# K = 4 synthetic languages with DISJOINT 6-letter alphabets (language k
# uses chr(97+6k)..chr(97+6k+5)); each has a 6-word vocabulary
# word(k, v) = 3 rotated letters. Document doc_id speaks language
# doc_id % 4 with 12 + doc_id % 5 words chosen by a fixed congruence —
# both engines synthesize the exact same corpus, so the fitted accuracy
# is a planted-distribution RECOVERY certificate: a broken gradient,
# featurization, or argmax collapses the accuracy column, not just a
# hash.
_LID_K = 4
_LID_DIMS = 16  # 15 hashed char-bigram cells + intercept
_LID_ITERS = 5
_LID_LR = 2.0
_LID_WORDS = [
    "".join(chr(97 + 6 * k + (v + i) % 6) for i in range(3))
    for k in range(_LID_K)
    for v in range(6)
]
_LID_WORDS_SQL = "[" + ", ".join(f"'{w}'" for w in _LID_WORDS) + "]"


def _lid_corpus(d: DataFrame) -> DataFrame:
    """documents → (doc_id, y, text): the planted-language corpus."""
    words = F.array(*[F.lit(w) for w in _LID_WORDS])
    return d.select(
        "doc_id",
        (F.col("doc_id") % _LID_K).cast("int").alias("y"),
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), (F.lit(11) + F.col("doc_id") % 5).cast("int")
                ),
                lambda i: F.element_at(
                    words,
                    (
                        (F.col("doc_id") % _LID_K) * 6
                        + (F.lit(7) * F.col("doc_id") + F.lit(13) * i) % 6
                        + 1
                    ).cast("int"),
                ),
            ),
            " ",
        ).alias("text"),
    )


_LID_CORPUS_SQL = f"""lid_docs AS MATERIALIZED (
      SELECT doc_id, CAST(doc_id % {_LID_K} AS INT) AS y,
             array_to_string(list_transform(range(0, 12 + doc_id % 5),
               i -> {_LID_WORDS_SQL}[
                      CAST(doc_id % {_LID_K} AS BIGINT) * 6
                      + (7 * doc_id + 13 * i) % 6 + 1]),
               ' ') AS text
      FROM documents
    )"""


def _lid_train(spark_docs: DataFrame):
    """Shared Spark-side fixture: planted corpus → features → fitted
    flat weight row. Training runs on a class-BALANCED half of the
    corpus ((doc_id div 4) % 2 — doc_id % 2 would drop two of the four
    planted languages entirely) while scoring/serving covers the whole
    corpus: the production train-on-sample shape, and it halves the
    per-round aggregation without touching the recovery certificate
    (full-corpus accuracy stays 1.0 on the planted alphabets)."""
    corpus = _lid_corpus(spark_docs)
    feats = (
        char_ngram_hash_features(corpus, "text", "doc_id", dims=_LID_DIMS)
        .join(corpus.select("doc_id", "y"), "doc_id")
        .localCheckpoint(eager=True)
    )
    half = feats.where(F.expr("(doc_id div 4) % 2 = 0"))
    w = softmax_train(
        half, "x", "y", _LID_DIMS, _LID_K,
        iterations=_LID_ITERS, lr=_LID_LR,
    )
    return feats, w


_LID_TRAIN_SQL = (
    _LID_CORPUS_SQL
    + ",\n    "
    + char_ngram_hash_features_sql(
        "lid_docs", "text", "doc_id", dims=_LID_DIMS, prefix="lid"
    )
    + ",\n    "
    + """lid_feats AS MATERIALIZED (
      SELECT v.x, d.y, d.doc_id
      FROM lid_vecs v JOIN lid_docs d USING (doc_id)
      WHERE (d.doc_id // 4) % 2 = 0
    )"""
    + ",\n    "
    + softmax_train_sql(
        "lid_feats", _LID_DIMS, _LID_K,
        iterations=_LID_ITERS, lr=_LID_LR, prefix="lid",
    )
)


@query(
    "langid_classifier_accounting",
    oracle=f"""
    WITH {_LID_TRAIN_SQL},
    lid_full AS (
      SELECT y, CAST(list_position(z, list_max(z)) - 1 AS INT) AS pred
      FROM (
        SELECT dd.y,
               list_transform(range(0, {_LID_K}), c ->
                 ROUND(list_dot_product(
                   list_slice(w.w, c * {_LID_DIMS} + 1,
                              c * {_LID_DIMS} + {_LID_DIMS}), v.x),
                   6)) AS z
        FROM lid_vecs v JOIN lid_docs dd USING (doc_id), lid_w w
      )
    ),
    lid_per AS (
      SELECT y AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct
      FROM lid_full GROUP BY y
    ),
    lid_pc AS (
      SELECT pred AS lang, CAST(COUNT(*) AS BIGINT) AS n_pred
      FROM lid_full GROUP BY pred
    ),
    lid_tot AS (
      SELECT ROUND(CAST(SUM(CASE WHEN pred = y THEN 1 ELSE 0 END)
                        AS DOUBLE) / COUNT(*), 6) AS accuracy
      FROM lid_full
    )
    SELECT p.lang, p.n_true,
           COALESCE(pc.n_pred, 0) AS n_pred, p.n_correct,
           ROUND(CAST(p.n_correct AS DOUBLE) / p.n_true, 6) AS recall,
           t.accuracy
    FROM lid_per p
    LEFT JOIN lid_pc pc ON pc.lang = p.lang, lid_tot t
    ORDER BY p.lang
    """,
)
def langid_classifier_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trained MULTICLASS language-ID classifier (r12, VERDICT ask #1 —
    the learned model production pipelines use where this repo's
    char_trigram_lang_profile row is the heuristic): deterministic
    full-batch SOFTMAX regression over hashed char-bigram features,
    trained on a PLANTED 4-language corpus with disjoint alphabets
    synthesized identically in both engines. The oracle replays every
    6dp weight iterate through the unrolled CTE chain (the ×10⁶-BIGINT
    gradient grid makes the reduction order-insensitive), then both
    engines score with the exp-free argmax. Per-class rows
    (n_true / n_pred / n_correct / recall) catch a class-index
    permutation that a global accuracy would hide; the accuracy column
    is the planted-distribution RECOVERY certificate (pinned ≥ 0.9 in
    pytest). Reference comparison: n/a (no ML surface in
    /root/reference/src/lib.rs:1-37).

    100 TB shape: featurization is one explode + one (id, cell)-keyed
    map-side-combinable sum; each GD round is ONE K·d-key integer agg
    over the checkpointed feature frame with the flat weight row
    broadcast back; serving is broadcast + argmax, shuffle-free."""
    d = load(spark, sf_dir, "documents")
    feats, w = _lid_train(d)
    # r15 (guide §2.4): scored feeds THREE consumers (per-class, per-
    # prediction, total accuracy) and each would re-run the serving
    # argmax + join; one lazy cut makes serving compute once. Values
    # untouched; the bench sweeps the blocks after the run.
    scored = (
        softmax_predict(feats, "x", "doc_id", w, _LID_DIMS, _LID_K)
        .join(feats.select("doc_id", "y"), "doc_id")
        .localCheckpoint(eager=False)
    )
    per = scored.groupBy(F.col("y").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    )
    pc = scored.groupBy(F.col("pred").alias("lang")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pred")
    )
    tot = scored.agg(
        F.round(
            F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("accuracy")
    )
    return (
        per.join(pc, "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_true",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_true"), 6
            ).alias("recall"),
            "accuracy",
        )
        .orderBy("lang")
    )


@query(
    "langid_gate_accounting",
    oracle=f"""
    WITH {_LID_TRAIN_SQL},
    real_docs AS MATERIALIZED (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
    ),
    {char_ngram_hash_features_sql(
        "real_docs", "text", "doc_id", dims=_LID_DIMS, prefix="rg"
    )},
    rg_pred AS (
      SELECT doc_id, CAST(list_position(z, list_max(z)) - 1 AS INT) AS pred
      FROM (
        SELECT v.doc_id,
               list_transform(range(0, {_LID_K}), c ->
                 ROUND(list_dot_product(
                   list_slice(w.w, c * {_LID_DIMS} + 1,
                              c * {_LID_DIMS} + {_LID_DIMS}), v.x), 6)) AS z
        FROM rg_vecs v, lid_w w
      )
    ),
    rg_tc AS (
      SELECT doc_id, {token_count_sql("text")} AS tc FROM real_docs
    )
    SELECT p.pred AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN t.tc >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN t.tc >= 10 THEN t.tc ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM rg_pred p JOIN rg_tc t USING (doc_id)
    GROUP BY p.pred ORDER BY pred_lang
    """,
)
def langid_gate_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-ID SERVING path as a corpus-cleaning gate (r12 — the
    "train once, gate every batch" composition the pipeline tier
    runs): fit the softmax model on the planted corpus, then score the
    REAL documents table through the same char-bigram featurization
    and gate on predicted language × a minimum-length bar
    (token_count ≥ 10 — the C4-style floor). Per predicted language:
    document count, gate survivors, and the kept token mass — the
    accounting a mixture builder needs before weighting corpora. The
    oracle replays training AND both featurizations end-to-end.
    Reference comparison: n/a.

    100 TB shape: serving is ONE corpus featurization pass + a
    broadcast K·d dot-product argmax (no shuffle beyond the cell agg);
    the trained weights are a frozen 1-row frame (save_model /
    load_model reuse from classifier.py)."""
    d = load(spark, sf_dir, "documents")
    _, w = _lid_train(d)
    real = d.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    )
    feats = char_ngram_hash_features(real, "text", "doc_id", dims=_LID_DIMS)
    pred = softmax_predict(feats, "x", "doc_id", w, _LID_DIMS, _LID_K)
    tc = real.select("doc_id", token_count("text").alias("tc"))
    return (
        pred.join(tc, "doc_id")
        .groupBy(F.col("pred").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("tc") >= 10, 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.when(F.col("tc") >= 10, F.col("tc")).otherwise(0))
            .cast("bigint")
            .alias("kept_tokens"),
        )
        .orderBy("pred_lang")
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply: the ordered multi-step feed fold (r12, VERDICT
# ask #5). The live streaming twin (start_triple_cdc_sink) is pinned in
# tests/test_streaming.py; this row certifies the FOLD SEMANTICS the sink
# runs — per-version-ordered apply_diff chaining — against DuckDB.
# ---------------------------------------------------------------------------

from rippledb_spark.queries.triples import TRIPLES_CTE, _store  # noqa: E402

_CDC_META_OPEN = (
    "meta:feed", "named", "has_state", "open", "literal", None, None,
)
_CDC_META_CLOSED = (
    "meta:feed", "named", "has_state", "closed", "literal", None, None,
)
_CDC_OPEN_SQL = "'meta:feed', 'named', 'has_state', 'open', 'literal', NULL, NULL"
_CDC_CLOSED_SQL = (
    "'meta:feed', 'named', 'has_state', 'closed', 'literal', NULL, NULL"
)


@query(
    "cdc_feed_fold_accounting",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    v2 AS (
      SELECT * FROM triples WHERE p <> 'has_status'
      UNION ALL SELECT {_CDC_OPEN_SQL}
    ),
    v3 AS (
      SELECT * FROM (SELECT * FROM v2 EXCEPT SELECT {_CDC_OPEN_SQL})
      UNION ALL SELECT {_CDC_CLOSED_SQL}
    ),
    feed AS (
      SELECT 1 AS v, 'insert' AS op, *
      FROM (SELECT * FROM v2 EXCEPT SELECT * FROM triples)
      UNION ALL
      SELECT 1, 'delete', *
      FROM (SELECT * FROM triples EXCEPT SELECT * FROM v2)
      UNION ALL
      SELECT 2, 'insert', *
      FROM (SELECT * FROM v3 EXCEPT SELECT * FROM v2)
      UNION ALL
      SELECT 2, 'delete', *
      FROM (SELECT * FROM v2 EXCEPT SELECT * FROM v3)
    ),
    a1 AS (
      SELECT * FROM (
        SELECT * FROM triples
        EXCEPT
        SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
        FROM feed WHERE v = 1 AND op = 'delete')
      UNION
      SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
      FROM feed WHERE v = 1 AND op = 'insert'
    ),
    a2 AS (
      SELECT * FROM (
        SELECT * FROM a1
        EXCEPT
        SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
        FROM feed WHERE v = 2 AND op = 'delete')
      UNION
      SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
      FROM feed WHERE v = 2 AND op = 'insert'
    ),
    ok AS (
      SELECT (SELECT COUNT(*) FROM (
                SELECT * FROM a2 EXCEPT SELECT * FROM v3
                UNION ALL
                SELECT * FROM v3 EXCEPT SELECT * FROM a2)) = 0 AS fold_ok,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM a2) AS final_n
    )
    SELECT f.v, f.op, CAST(COUNT(*) AS BIGINT) AS n_triples,
           o.fold_ok, o.final_n
    FROM feed f, ok o
    GROUP BY f.v, f.op, o.fold_ok, o.final_n
    ORDER BY f.v, f.op
    """,
)
def cdc_feed_fold_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered MULTI-STEP change-feed fold (r12 — the batch semantics
    behind streaming/sinks.start_triple_cdc_sink, whose live twin is
    pinned in tests/test_streaming.py): three store versions where v2
    drops every has_status triple and opens a meta marker, and v3 flips
    the marker closed — so one triple is INSERTED in step 1 and DELETED
    in step 2, the exact case an unordered fold resurrects. The feed
    carries a version column; both engines apply the steps in ascending
    version order with the certified D1/D2 semantics and ride
    ``fold_ok`` (symmetric-difference emptiness vs v3) and the final
    snapshot size on every row. Reference comparison: no version or
    streaming surface exists in the reference (persist is destructive
    single-slot, graph.rs:665-680).

    100 TB shape: per step, two null-safe anti-joins with AQE
    broadcasting the small delta; the feed is derived once and
    checkpointed; nothing collects."""
    st1 = _store(spark, sf_dir)
    st2 = st1.remove(st1.df.filter(F.col("p") == "has_status")).insert(
        [_CDC_META_OPEN]
    )
    st3 = st2.remove([_CDC_META_OPEN]).insert([_CDC_META_CLOSED])
    feed = (
        st1.diff(st2)
        .withColumn("v", F.lit(1))
        .unionByName(st2.diff(st3).withColumn("v", F.lit(2)))
        .localCheckpoint(eager=True)
    )
    applied = st1.apply_diff(feed.where(F.col("v") == 1)).apply_diff(
        feed.where(F.col("v") == 2)
    )
    ok = (
        applied.diff(st3)
        .agg((F.count(F.lit(1)) == 0).alias("fold_ok"))
        .crossJoin(
            applied.df.agg(
                F.count(F.lit(1)).cast("bigint").alias("final_n")
            )
        )
    )
    return (
        feed.groupBy("v", "op")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triples"))
        .crossJoin(F.broadcast(ok))
        .orderBy("v", "op")
    )


# ---------------------------------------------------------------------------
# Full OPQ alternation (operators/opq.py, r12 — VERDICT ask #4)
# ---------------------------------------------------------------------------

from rippledb_engine.operators import opq as OPQ10  # noqa: E402
from rippledb_engine.operators import pq as PQ10  # noqa: E402
from rippledb_engine.queries.pipeline9 import (  # noqa: E402
    _AV_SQL,
    _aniso_vectors,
)


@query(
    "pq_opq_alternating_topk",
    oracle=f"""
    WITH {_AV_SQL.strip()},
    {OPQ10.opq_alternating_sql("av_base", "av", "vec_id", 64, r=8, m=4,
                               k=8, iterations=2, pca_iterations=6,
                               rounds=2, prefix="opq").strip()},
    {PQ10.pq_adc_sql("opq_y0", "rv", "pid", 8, m=4, k=8, iterations=2,
                     prefix="opql",
                     exact_source=("(SELECT vec_id AS pid, "
                                   "CAST(av AS DOUBLE[]) AS v FROM av_base)",
                                   "v", "pid")).strip()},
    {PQ10.pq_adc_sql("av_base", "av", "vec_id", 64, m=4, k=8,
                     iterations=2, prefix="oppq").strip()},
    rfull AS (
      SELECT ROUND(AVG(CASE WHEN in_exact_topk THEN 1.0 ELSE 0.0 END), 6)
             AS recall_full
      FROM opqf_topk
    ),
    rlite AS (
      SELECT ROUND(AVG(CASE WHEN in_exact_topk THEN 1.0 ELSE 0.0 END), 6)
             AS recall_lite
      FROM opql_topk
    ),
    rplain AS (
      SELECT ROUND(AVG(CASE WHEN in_exact_topk THEN 1.0 ELSE 0.0 END), 6)
             AS recall_plain
      FROM oppq_topk
    )
    SELECT t.q_pid, t.rank, t.pid, t.adc_d2, t.in_exact_topk,
           rf.recall_full, rl.recall_lite, rp.recall_plain
    FROM opqf_topk t, rfull rf, rlite rl, rplain rp
    ORDER BY t.q_pid, t.rank
    """,
)
def pq_opq_alternating_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OPQ alternation head-to-head (r12, VERDICT ask #4 — closes
    the OPQ-lite scoping note at operators/opq.py:1-8): the same
    planted anisotropic corpus is quantized three ways — plain PQ on
    the raw 64 dims, OPQ-lite (top-8 PCA rotation → PQ), and full OPQ
    (the -lite rotation plus TWO codebook↔rotation alternations, the
    Procrustes step solved by cyclic-Givens coordinate descent with 6dp
    cos/sin grid iterates — Ge et al. 2013 §3.1 in its replayable
    form, with WARM-started codebooks — each round seeds Lloyd from the
    previous round's books, which together with the Procrustes step's
    fixed-books guarantee makes the alternation MONOTONE in
    quantization error; a cold re-init per round could land worse than
    -lite and at sf0.01 measurably did). Every row of the full
    variant's top-k rides the recall TRIPLE (plain / lite / full)
    judged against the exact ORIGINAL-space neighbors. The distortion
    certificate (quantization error ≤ OPQ-lite's, non-increasing per
    round) is pinned in pytest as a SINGLE-SESSION Spark comparison —
    deliberately NOT a hashed oracle column, because the corpus error
    sum sits on a ×10⁶ grid where one k-means-mean ulp (partition-
    merge-order sensitive across run contexts) flips exact-integer
    equality; the recall triple at nq·topk = 15 flags can still TIE or
    wobble a flag either way on this PCA-near-optimal fixture —
    documented honestly. The oracle replays the
    whole thing: the PCA chain once (both rotated variants share it —
    the lite space IS the alternation's round-0 state), 2 rounds × 4
    per-subspace k-means chains + reconstruction + the ×10⁶ moment
    grid + 7 unrolled Givens steps updating M and G + the applied
    rotation, then three ADC chains and three recall folds. Reference
    comparison: n/a (no vector surface).

    100 TB shape: adds to -lite, per round, ONE corpus moment pass
    (r² integer cells — the regression.py bounded-moment shape), a
    driver-side sweep on that r×r matrix, and one broadcast rotation
    pass; never a second covariance pass, never a corpus collect."""
    e = load(spark, sf_dir, "embeddings")
    av = _aniso_vectors(e).localCheckpoint(eager=True)
    rot = OPQ10.rotate_vectors(av, "av", "vec_id", 64, 8, pca_iterations=6)
    rdf = rot.select(F.col("id").alias("pid"), "rv").localCheckpoint(
        eager=True
    )
    full_rot, _, last_books = OPQ10.opq_alternating_rotate(
        rdf, 8, m=4, k=8, pq_iterations=2, rounds=2, return_state=True
    )
    full = OPQ10._adc_with_original_exact(
        full_rot, av, "av", "vec_id", 8, 4, 8, 2, 3, 5,
        init_books=last_books,
    )
    lite = OPQ10._adc_with_original_exact(
        rdf, av, "av", "vec_id", 8, 4, 8, 2, 3, 5
    )
    plain = PQ10.pq_adc_topk(av, "av", "vec_id", 64, m=4, k=8, iterations=2)
    flag = F.when(F.col("in_exact_topk"), 1.0).otherwise(0.0)
    rf = full.agg(F.round(F.avg(flag), 6).alias("recall_full"))
    rl = lite.agg(F.round(F.avg(flag), 6).alias("recall_lite"))
    rp = plain.agg(F.round(F.avg(flag), 6).alias("recall_plain"))
    return (
        full.crossJoin(F.broadcast(rf))
        .crossJoin(F.broadcast(rl))
        .crossJoin(F.broadcast(rp))
        .orderBy("q_pid", "rank")
    )


# ---------------------------------------------------------------------------
# MPEG-1 B pictures (operators/mpeg1.py, r12 — the last picture type)
# ---------------------------------------------------------------------------

from rippledb_engine.operators import multimodal as MM10  # noqa: E402


@query(
    "mpeg1_b_frame_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 5),
    dims AS (
      SELECT doc_id,
             CAST(16 * (2 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(CASE 1 + doc_id % 5
                  WHEN 1 THEN 41708 WHEN 2 THEN 41666 WHEN 3 THEN 40000
                  WHEN 4 THEN 33366 ELSE 33333 END AS BIGINT) AS us
      FROM ids
    ),
    yb AS (
      SELECT doc_id, w, r, c,
             (41 * doc_id + 11 * (r * (w // 8) + c)) % 256 AS iv,
             (41 * doc_id + 11 * (r * (w // 8) +
                 CASE WHEN r < 2
                      THEN 2 * GREATEST(c // 2 - 1, 0) + c % 2
                      ELSE c END)) % 256 AS pv,
             (doc_id + ((r // 2) * (w // 16) + c // 2)) % 3 AS m
      FROM dims, UNNEST(range(0, 4)) AS ur(r),
           LATERAL UNNEST(range(0, w // 8)) AS uc(c)
    ),
    yb2 AS (
      SELECT doc_id, w, r, c, iv, pv,
             CASE m WHEN 0 THEN iv WHEN 1 THEN pv
                    ELSE (iv + pv + 1) // 2 END AS bv
      FROM yb
    ),
    ysum AS (
      SELECT doc_id,
             64 * SUM(iv + bv + pv) AS y_sum,
             64 * SUM(1 * iv + 2 * bv + 3 * pv) AS order_wsum
      FROM yb2 GROUP BY doc_id
    ),
    cbk AS (
      SELECT doc_id, w, r, c,
             (17 * doc_id + 5 * (r * (w // 16) + c)) % 256 AS biv,
             (17 * doc_id + 5 * (r * (w // 16) +
                 CASE WHEN r = 0 THEN GREATEST(c - 1, 0) ELSE c END))
               % 256 AS bpv,
             (19 * doc_id + 3 * (r * (w // 16) + c)) % 256 AS riv,
             (19 * doc_id + 3 * (r * (w // 16) +
                 CASE WHEN r = 0 THEN GREATEST(c - 1, 0) ELSE c END))
               % 256 AS rpv,
             (doc_id + (r * (w // 16) + c)) % 3 AS m
      FROM dims, UNNEST(range(0, 2)) AS ur(r),
           LATERAL UNNEST(range(0, w // 16)) AS uc(c)
    ),
    csum AS (
      SELECT doc_id,
             64 * SUM(biv
               + CASE m WHEN 0 THEN biv WHEN 1 THEN bpv
                        ELSE (biv + bpv + 1) // 2 END
               + bpv) AS cb_sum,
             64 * SUM(riv
               + CASE m WHEN 0 THEN riv WHEN 1 THEN rpv
                        ELSE (riv + rpv + 1) // 2 END
               + rpv) AS cr_sum
      FROM cbk GROUP BY doc_id
    ),
    res AS (
      SELECT b.doc_id,
             SUM((i * 4 + j + 1) * (b.iv + b.bv + b.pv)) AS resized_wsum
      FROM generate_series(0, 3) AS gi(i),
           generate_series(0, 3) AS gj(j), yb2 b
      WHERE b.r = i AND b.c = (((j * b.w) // 4) // 8)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id AS media_id,
           CAST(3 AS BIGINT) AS n_frames_sampled,
           d.us AS us_per_frame,
           CAST(3 * d.w * d.h AS BIGINT) AS total_pixels,
           CAST(y.y_sum AS BIGINT) AS y_sum,
           CAST(c.cb_sum AS BIGINT) AS cb_sum,
           CAST(c.cr_sum AS BIGINT) AS cr_sum,
           CAST(r.resized_wsum AS BIGINT) AS resized_wsum,
           CAST(y.order_wsum AS BIGINT) AS order_wsum
    FROM dims d
    JOIN ysum y ON y.doc_id = d.doc_id
    JOIN csum c ON c.doc_id = d.doc_id
    JOIN res r ON r.doc_id = d.doc_id
    ORDER BY media_id
    """,
)
def mpeg1_b_frame_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 B PICTURES decoded for real (r12 — the last picture
    type; closes the final codec boundary beside the P-residual and
    half-pel extensions): each stream is coded-order I P B where the B
    picture's prediction mode varies per macroblock — forward-only,
    backward-only, interpolated (f+b+1)>>1 — against the two anchors,
    and frames return in DISPLAY order I B P. Interpolation of
    block-constant anchors is exact integer arithmetic, so the oracle
    recomputes every pixel of all three frames in closed form;
    ``order_wsum`` weights each frame's luma sum by its display index,
    so a decoder that returned coded order (or mixed up the anchors)
    breaks the row even where plain sums would not. (D pictures decode
    too as of r12 — D-only sequences, pinned in pytest; mixing D with
    I/P/B refuses.) Reference comparison: n/a (no media surface).

    100 TB shape: identical to the other video paths — Arrow
    mapInPandas where the payload lives, 1→n_frames expansion in the
    kernel, one media-keyed agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 5)
    media = MM10.synthesize_mpeg1_ipb_gops(d, "doc_id")
    stats = MM10.mpeg1_frame_pixel_stats(media, every_n=1, out_w=4, out_h=4)
    return (
        stats.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.min("us_per_frame").alias("us_per_frame"),
            F.sum("n_pixels").alias("total_pixels"),
            F.sum("y_sum").alias("y_sum"),
            F.sum("cb_sum").alias("cb_sum"),
            F.sum("cr_sum").alias("cr_sum"),
            F.sum("resized_wsum").alias("resized_wsum"),
            F.sum((F.col("frame_no") + 1) * F.col("y_sum"))
            .cast("bigint")
            .alias("order_wsum"),
        )
        .orderBy("media_id")
    )


@query(
    "mpeg1_halfpel_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 2),
    dims AS (
      SELECT doc_id,
             CAST(16 * (2 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(CASE 1 + doc_id % 5
                  WHEN 1 THEN 41708 WHEN 2 THEN 41666 WHEN 3 THEN 40000
                  WHEN 4 THEN 33366 ELSE 33333 END AS BIGINT) AS us
      FROM ids
    ),
    yb AS (
      SELECT doc_id, w, r, c,
             (41 * doc_id + 11 * (r * (w // 8) + c)) % 256 AS v,
             (41 * doc_id + 11 * ((r - 1) * (w // 8) + c)) % 256 AS vup,
             (41 * doc_id + 11 * (r * (w // 8) + c - 1)) % 256 AS vleft
      FROM dims, UNNEST(range(0, 4)) AS ur(r),
           LATERAL UNNEST(range(0, w // 8)) AS uc(c)
    ),
    yb2 AS (
      SELECT doc_id,
             64 * v AS i_sum,
             CASE
               WHEN r < 2 AND c // 2 = 0 THEN 64 * v
               WHEN r < 2 THEN 8 * (7 * v + (vleft + v + 1) // 2)
               WHEN c // 2 = 0 THEN 8 * (7 * v + (vup + v + 1) // 2)
               ELSE 8 * (7 * v + vleft)
             END AS p_sum
      FROM yb
    ),
    ysum AS (
      SELECT doc_id, SUM(i_sum + p_sum) AS y_sum,
             SUM(1 * i_sum + 2 * p_sum) AS order_wsum
      FROM yb2 GROUP BY doc_id
    ),
    cbk AS (
      SELECT doc_id, r, c,
             (17 * doc_id + 5 * (r * (w // 16) + c)) % 256 AS bv,
             (17 * doc_id + 5 * (r * (w // 16) + c - 1)) % 256 AS bvl,
             (19 * doc_id + 3 * (r * (w // 16) + c)) % 256 AS rv,
             (19 * doc_id + 3 * (r * (w // 16) + c - 1)) % 256 AS rvl
      FROM dims, UNNEST(range(0, 2)) AS ur(r),
           LATERAL UNNEST(range(0, w // 16)) AS uc(c)
    ),
    csum AS (
      SELECT doc_id,
             SUM(64 * bv + CASE WHEN r = 1 AND c >= 1
                  THEN 8 * (7 * bv + (bvl + bv + 1) // 2)
                  ELSE 64 * bv END) AS cb_sum,
             SUM(64 * rv + CASE WHEN r = 1 AND c >= 1
                  THEN 8 * (7 * rv + (rvl + rv + 1) // 2)
                  ELSE 64 * rv END) AS cr_sum
      FROM cbk GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           CAST(2 AS BIGINT) AS n_frames_sampled,
           d.us AS us_per_frame,
           CAST(2 * d.w * d.h AS BIGINT) AS total_pixels,
           CAST(y.y_sum AS BIGINT) AS y_sum,
           CAST(c.cb_sum AS BIGINT) AS cb_sum,
           CAST(c.cr_sum AS BIGINT) AS cr_sum,
           CAST(y.order_wsum AS BIGINT) AS order_wsum
    FROM dims d
    JOIN ysum y ON y.doc_id = d.doc_id
    JOIN csum c ON c.doc_id = d.doc_id
    ORDER BY media_id
    """,
)
def mpeg1_halfpel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 HALF-PEL motion compensation certified against the
    DuckDB oracle (r12 — the driver-gate companion to the numpy-mirror
    pytests): full_pel_forward_vector=0 streams whose P picture mixes
    (−1, 0) horizontal luma interpolation, (0, −1) vertical luma
    interpolation, and (−2, 0) full-pel luma shifts whose
    trunc-toward-zero chroma vectors interpolate CHROMA — on
    block-constant anchors every interpolated pixel is either a block
    constant (interior) or the exact (a+b+1)>>1 of two constants (the
    one edge row/column per block), so the oracle recomputes every
    pixel of both frames closed-form. A wrong rounding direction, a
    floor-instead-of-truncate chroma halving, or a swapped half flag
    shifts whole edge columns and breaks y_sum/cb_sum/cr_sum;
    order_wsum pins the frame order. Reference comparison: n/a (no
    media surface).

    100 TB shape: identical to the other video paths — Arrow
    mapInPandas where the payload lives, one media-keyed agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 2)
    media = MM10.synthesize_mpeg1_halfpel_gops(d, "doc_id")
    stats = MM10.mpeg1_frame_pixel_stats(media, every_n=1, out_w=4, out_h=4)
    return (
        stats.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames_sampled"),
            F.min("us_per_frame").alias("us_per_frame"),
            F.sum("n_pixels").alias("total_pixels"),
            F.sum("y_sum").alias("y_sum"),
            F.sum("cb_sum").alias("cb_sum"),
            F.sum("cr_sum").alias("cr_sum"),
            F.sum((F.col("frame_no") + 1) * F.col("y_sum"))
            .cast("bigint")
            .alias("order_wsum"),
        )
        .orderBy("media_id")
    )


@query(
    "pretraining_langid_gate_accounting",
    oracle=f"""
    WITH {_LID_TRAIN_SQL},
    real_docs AS MATERIALIZED (
      SELECT doc_id, COALESCE(text, '') AS text FROM documents
    ),
    {char_ngram_hash_features_sql(
        "real_docs", "text", "doc_id", dims=_LID_DIMS, prefix="pg"
    )},
    pg_pred AS (
      SELECT doc_id, CAST(list_position(z, list_max(z)) - 1 AS INT) AS pred
      FROM (
        SELECT v.doc_id,
               list_transform(range(0, {_LID_K}), c ->
                 ROUND(list_dot_product(
                   list_slice(w.w, c * {_LID_DIMS} + 1,
                              c * {_LID_DIMS} + {_LID_DIMS}), v.x), 6)) AS z
        FROM pg_vecs v, lid_w w
      )
    ),
    pl_kept AS (
      SELECT d.doc_id, p.pred, d.text
      FROM real_docs d JOIN pg_pred p USING (doc_id)
      WHERE p.pred IN (0, 2)
    ),
    pl_canon AS (
      SELECT MIN(doc_id) AS doc_id FROM pl_kept GROUP BY md5(text)
    ),
    pl_docs AS (
      SELECT k.doc_id, k.pred, k.text
      FROM pl_kept k JOIN pl_canon c USING (doc_id)
    ),
    pl_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT d.pred AS pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept_unique,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
           t.n_docs AS n_corpus
    FROM pl_docs d, pl_tot t
    GROUP BY d.pred, t.n_docs ORDER BY pred_lang
    """,
)
def pretraining_langid_gate_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trained lang-ID classifier WIRED INTO the corpus-cleaning
    recipe (r12 — VERDICT ask #1's "offer it in the pipeline" half,
    the multiclass sibling of pretraining_classifier_gate_accounting):
    train the softmax model on the planted corpus, gate the REAL
    documents by predicted language (keep classes {{0, 2}} — the CCNet
    language filter), then exact dedup (min-id per content hash) and
    per-predicted-language survivor accounting. Both engines train
    their own model and gate their own corpus — a green row certifies
    train + featurize + argmax-serve + dedup composed end to end.
    Reference comparison: n/a (no pipeline surface).

    100 TB shape: the gate adds ONE broadcast K·d argmax on top of the
    featurization agg; the rest is the pipeline's documented dedup
    shuffle."""
    d = load(spark, sf_dir, "documents")
    _, w = _lid_train(d)
    real = d.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).localCheckpoint(eager=True)
    feats = char_ngram_hash_features(real, "text", "doc_id", dims=_LID_DIMS)
    pred = softmax_predict(feats, "x", "doc_id", w, _LID_DIMS, _LID_K)
    kept = real.join(pred, "doc_id").where(F.col("pred").isin(0, 2))
    canon = kept.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    docs = kept.join(canon.select("doc_id"), "doc_id")
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    return (
        docs.groupBy(F.col("pred").alias("pred_lang"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept_unique"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .orderBy("pred_lang")
    )
