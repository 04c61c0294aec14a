"""Round-11 query pack: the trained quality classifier (deterministic
logistic regression over hashed features + text metrics — the learned
gate real pretraining pipelines run beside rule-based scores), its
composition into the pretraining recipe as an alternative gate, and the
version-diff / CDC surface.

Every query follows the house contract: identical column aliases in
Spark and the DuckDB oracle, 6dp-rounded materialized intermediates,
integer-exact reductions wherever a sum crosses engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_engine.functions.text import (
    punct_count,
    punct_count_sql,
    stopword_count,
    stopword_count_sql,
    token_count,
    token_count_sql,
)
from rippledb_engine.operators import sketches as SK
from rippledb_engine.operators.classifier import (
    LOGIT_DP,
    _dot,
    logistic_metrics,
    logistic_predict,
    logistic_train,
    logistic_train_sql,
)
from rippledb_engine.registry import query
from rippledb_engine.tables import load

# --- planted-label quality-classifier fixture --------------------------------
# Features (d = 12): 8 signed hashed-token cells (scaled /10) ⊕
# [intercept 1.0, token_count/50, stopword_ratio, punct_count/10].
# The label is a FIXED linear rule over those features with a dead band
# (|s| ≤ margin rows excluded), so the training set is margin-separable
# by construction and the fitted accuracy is a self-verifying
# certificate: a broken gradient / featurization shows up as accuracy
# collapse, not just a hash mismatch.
_QC_DIMS = 12
_QC_MARGIN = 0.15
_QC_ITERS = 16
_QC_LR = 2.0
_QC_WSTAR = [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 0.4, 0.5, 1.0, 0.5]
_QC_WSTAR_SQL = "[" + ", ".join(str(w) for w in _QC_WSTAR) + "]"


def _qc_features(d: DataFrame) -> DataFrame:
    """documents → (doc_id, x array<double>[12]): the classifier
    module's standard featurization (classifier.hashed_text_features —
    one definition serves the certified queries AND the streaming crawl
    gate)."""
    from rippledb_engine.operators.classifier import hashed_text_features

    return hashed_text_features(d, "text", "doc_id")


def _qc_labeled(d: DataFrame) -> DataFrame:
    """→ (doc_id, x, s): planted linear score s = round(w*·x, 6dp)."""
    wstar = F.array(*[F.lit(w) for w in _QC_WSTAR])
    return _qc_features(d).select(
        "doc_id", "x", F.round(_dot(F.col("x"), wstar), LOGIT_DP).alias("s")
    )


def _qc_features_sql() -> str:
    """CTE parts (hf_* + qc_base/qc_x/qc_lab) mirroring
    :func:`_qc_labeled` over the pre-registered ``documents`` view."""
    return f"""{SK.feature_hash_vectors_sql("documents", "text", "doc_id", dims=8)},
    qc_base AS (
      SELECT doc_id, {token_count_sql('text')} AS tc,
             {stopword_count_sql('text')} AS sw,
             {punct_count_sql('text')} AS pc
      FROM documents
    ),
    qc_x AS MATERIALIZED (
      SELECT b.doc_id,
             list_concat(
               list_transform(h.v, c -> ROUND(c / 10.0, {LOGIT_DP})),
               [1.0, ROUND(b.tc / 50.0, {LOGIT_DP}),
                ROUND(CASE WHEN b.tc = 0 THEN 0.0
                           ELSE CAST(b.sw AS DOUBLE) / b.tc END, {LOGIT_DP}),
                ROUND(b.pc / 10.0, {LOGIT_DP})]) AS x
      FROM qc_base b JOIN hf_vecs h ON h.doc_id = b.doc_id
    ),
    qc_lab AS MATERIALIZED (
      SELECT doc_id, x,
             ROUND(list_dot_product(x, {_QC_WSTAR_SQL}), {LOGIT_DP}) AS s
      FROM qc_x
    )"""


@query(
    "quality_classifier_accounting",
    oracle=f"""
    WITH {_qc_features_sql().strip()},
    qc_train AS MATERIALIZED (
      SELECT x, CASE WHEN s > {_QC_MARGIN} THEN 1.0 ELSE 0.0 END AS y
      FROM qc_lab WHERE abs(s) > {_QC_MARGIN}
    ),
    {logistic_train_sql("qc_train", _QC_DIMS, iterations=_QC_ITERS,
                        lr=_QC_LR, prefix="qc").strip()},
    qc_excl AS (
      SELECT CAST(SUM(CASE WHEN abs(s) <= {_QC_MARGIN} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_excluded
      FROM qc_lab
    )
    SELECT u.j AS feature_idx, w.w[u.j + 1] AS weight,
           m.accuracy, m.log_loss, m.n_train, m.n_pos, e.n_excluded
    FROM qc_w w, UNNEST(range(0, {_QC_DIMS})) AS u(j),
         qc_metrics m, qc_excl e
    ORDER BY feature_idx
    """,
)
def quality_classifier_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRAINED quality classifier (operators/classifier.py, r11 — the
    missing learned-gate stage): documents → 12-dim features (8 signed
    hashed-token cells + intercept + scaled token/stopword/punct
    metrics) → labels planted by a fixed linear rule with a dead band
    (margin-separable by construction) → 16 rounds of deterministic
    full-batch logistic GD (6dp iterates, ×10⁶-BIGINT gradient grid) →
    per-feature weights with accuracy / log-loss riding every row. The
    oracle replays featurization, label planting, every gradient sum,
    every weight iterate, and both metrics in one unrolled CTE chain —
    a green row certifies the entire train trajectory, and the
    accuracy column is the planted-rule recovery certificate (pinned
    ≥ 0.9 in pytest). Reference comparison: n/a (no ML surface in
    /root/reference/src/).

    100 TB shape: featurization = one explode + (doc, cell) agg;
    training = 16 corpus passes, each ONE map-side-combinable 12-key
    integer agg over a checkpointed feature frame with the 12-vector
    broadcast back; serving is exp-free (z > 0)."""
    d = load(spark, sf_dir, "documents")
    lab = _qc_labeled(d).localCheckpoint(eager=True)
    train = lab.where(F.abs(F.col("s")) > _QC_MARGIN).select(
        "x", F.when(F.col("s") > _QC_MARGIN, 1.0).otherwise(0.0).alias("y")
    )
    w = logistic_train(
        train, "x", "y", _QC_DIMS, iterations=_QC_ITERS, lr=_QC_LR
    )
    met = logistic_metrics(train, "x", "y", w, _QC_DIMS)
    excl = lab.agg(
        F.sum(F.when(F.abs(F.col("s")) <= _QC_MARGIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_excluded")
    )
    return (
        w.select(F.posexplode("w").alias("feature_idx", "weight"))
        .crossJoin(F.broadcast(met))
        .crossJoin(F.broadcast(excl))
        .orderBy("feature_idx")
    )


@query(
    "pretraining_classifier_gate_accounting",
    oracle=f"""
    WITH {_qc_features_sql().strip()},
    qc_train AS MATERIALIZED (
      SELECT x, CASE WHEN s > {_QC_MARGIN} THEN 1.0 ELSE 0.0 END AS y
      FROM qc_lab WHERE abs(s) > {_QC_MARGIN}
    ),
    {logistic_train_sql("qc_train", _QC_DIMS, iterations=_QC_ITERS,
                        lr=_QC_LR, prefix="qc").strip()},
    pg_scores AS (
      SELECT l.doc_id,
             ROUND(list_dot_product(w.w, l.x), {LOGIT_DP}) AS score
      FROM qc_lab l, qc_w w
    ),
    pg_kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN pg_scores s USING (doc_id)
      WHERE s.score > 0
    ),
    pg_canon AS (
      SELECT MIN(doc_id) AS doc_id FROM pg_kept GROUP BY md5(text)
    ),
    pg_docs AS (
      SELECT k.doc_id, k.lang, k.text
      FROM pg_kept k JOIN pg_canon c USING (doc_id)
    ),
    pg_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept_unique,
           CAST(SUM(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
           t.n_docs AS n_corpus
    FROM pg_docs d, pg_tot t
    GROUP BY d.lang, t.n_docs ORDER BY d.lang
    """,
)
def pretraining_classifier_gate_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The trained classifier WIRED INTO the pretraining recipe as the
    alternative quality gate (r11 — VERDICT ask #1's second half):
    train the logistic gate on the planted-rule labels, then run the
    pipeline's front half with THE FITTED MODEL deciding keep/drop
    (score = w·x > 0, exp-free serving) → exact dedup (min-id per
    content hash) → per-language survivor accounting. Both engines
    train their own model and gate their own corpus — a green row
    certifies train + serve + dedup composed. Reference comparison:
    n/a (no pipeline surface).

    100 TB shape: the gate adds ONE broadcast 12-vector projection on
    top of featurization (no shuffle beyond the hashed-cell agg); the
    rest is the pipeline's documented dedup shuffle."""
    d = load(spark, sf_dir, "documents")
    lab = _qc_labeled(d).localCheckpoint(eager=True)
    train = lab.where(F.abs(F.col("s")) > _QC_MARGIN).select(
        "x", F.when(F.col("s") > _QC_MARGIN, 1.0).otherwise(0.0).alias("y")
    )
    w = logistic_train(
        train, "x", "y", _QC_DIMS, iterations=_QC_ITERS, lr=_QC_LR
    )
    scores = logistic_predict(lab, "x", "doc_id", w, _QC_DIMS)
    kept = d.join(
        scores.where(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
    ).select("doc_id", "lang", "text")
    canon = kept.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    docs = kept.join(canon.select("doc_id"), "doc_id", "left_semi")
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept_unique"),
            F.sum(F.size(F.split("text", " ")))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .crossJoin(F.broadcast(tot))
        .select("lang", "n_kept_unique", "n_tokens", F.col("n_docs").alias("n_corpus"))
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Snapshot diff / change-data-feed (store.diff / apply_diff, r11)
# ---------------------------------------------------------------------------

from rippledb_spark.queries.triples import TRIPLES_CTE, _store  # noqa: E402
from rippledb_spark.store import TripleStore  # noqa: E402

_VDIFF_META = (
    "meta:engine", "named", "meta:name", "rippledb_spark", "literal",
    None, None,
)


@query(
    "version_diff_accounting",
    oracle=f"""
    WITH {TRIPLES_CTE.strip()},
    v2 AS (
      SELECT * FROM triples WHERE p <> 'in_segment'
      UNION ALL
      SELECT 'meta:engine', 'named', 'meta:name', 'rippledb_spark',
             'literal', NULL, NULL
    ),
    ins AS (SELECT * FROM v2 EXCEPT SELECT * FROM triples),
    del AS (SELECT * FROM triples EXCEPT SELECT * FROM v2),
    dif AS (
      SELECT 'insert' AS op, * FROM ins
      UNION ALL
      SELECT 'delete' AS op, * FROM del
    ),
    applied AS (
      SELECT * FROM (
        SELECT * FROM triples
        EXCEPT
        SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
        FROM dif WHERE op = 'delete'
      )
      UNION
      SELECT s, s_kind, p, o_value, o_kind, o_lang, o_datatype
      FROM dif WHERE op = 'insert'
    ),
    ok AS (
      SELECT (SELECT COUNT(*) FROM (
                SELECT * FROM applied EXCEPT SELECT * FROM v2
                UNION ALL
                SELECT * FROM v2 EXCEPT SELECT * FROM applied)) = 0
             AS roundtrip_ok
    )
    SELECT d.op, d.p, CAST(COUNT(*) AS BIGINT) AS n_triples, o.roundtrip_ok
    FROM dif d, ok o
    GROUP BY d.op, d.p, o.roundtrip_ok
    ORDER BY d.op, d.p
    """,
)
def version_diff_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff → CDC feed → re-application, certified end to end
    (store.diff / store.apply_diff, r11 — VERDICT ask #7): v2 is v1
    with every in_segment triple removed and one meta triple added (the
    DML query's mutation); ``diff`` derives the minimal (op, triple)
    change feed via null-safe anti-joins, and the feed is APPLIED back
    to v1 with the certified D1/D2 semantics. The per-(op, predicate)
    accounting rides with ``roundtrip_ok`` — the symmetric-difference
    emptiness of apply_diff(v1, feed) vs v2, i.e. the property that
    makes a change feed safe for incremental consumers (the r4 CDC
    fold). Both engines replay diff, application, and the emptiness
    check independently. Reference comparison: the reference's persist
    is destructive single-slot (graph.rs:665-680) — no version surface
    exists there.

    100 TB shape: two null-safe anti-joins on the 7-column identity
    (AQE broadcasts the small delta side); application is the
    documented D1/D2 joins; nothing collects."""
    st1 = _store(spark, sf_dir)
    seg = st1.df.filter(F.col("p") == "in_segment")
    st2 = st1.remove(seg).insert([_VDIFF_META])
    feed = st1.diff(st2).localCheckpoint(eager=True)
    applied = st1.apply_diff(feed)
    resid = applied.diff(st2).agg(
        (F.count(F.lit(1)) == 0).alias("roundtrip_ok")
    )
    return (
        feed.groupBy("op", "p")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triples"))
        .crossJoin(F.broadcast(resid))
        .orderBy("op", "p")
    )


# ---------------------------------------------------------------------------
# OPQ-lite: PCA-rotated product quantization (operators/opq.py, r11)
# ---------------------------------------------------------------------------

from rippledb_engine.functions.vector import as_double_array  # noqa: E402
from rippledb_engine.operators import opq as OPQ  # noqa: E402
from rippledb_engine.operators import pq as PQ9  # noqa: E402

# Planted anisotropic corpus: scale the first 8 dims 10x the rest and mix
# each with its +8 neighbor — variance concentrates in a correlated
# 8-dim subspace (the regime Ge et al. 2013 targets), deterministically
# derived from the embeddings so both engines rebuild it bit-identically.
_AV_SQL = """av_base AS MATERIALIZED (
      SELECT vec_id, list_transform(range(0, 64), i -> ROUND(
               (CASE WHEN i < 8 THEN 3.0 ELSE 0.3 END) * v[i + 1]
               + 0.9 * (CASE WHEN ((i + 8) % 64) < 8 THEN 3.0 ELSE 0.3 END)
                 * v[((i + 8) % 64) + 1], 6)) AS av
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    )"""


def _aniso_vectors(e: DataFrame) -> DataFrame:
    """Spark twin of _AV_SQL: (vec_id, av array<double>[64])."""
    v = as_double_array("embedding")

    def scale(i):
        return F.when(i < 8, F.lit(3.0)).otherwise(F.lit(0.3))

    def mix(i):
        j = F.pmod(i + 8, F.lit(64))
        return F.round(
            scale(i) * F.element_at(v, (i + 1).cast("int"))
            + F.lit(0.9) * scale(j) * F.element_at(v, (j + 1).cast("int")),
            6,
        )

    return e.select(
        "vec_id",
        F.transform(F.sequence(F.lit(0), F.lit(63)), mix).alias("av"),
    )


@query(
    "pq_rotated_topk",
    oracle=f"""
    WITH {_AV_SQL.strip()},
    {OPQ.pq_rotated_sql("av_base", "av", "vec_id", 64, r=8, m=4, k=8,
                        iterations=2, pca_iterations=6, prefix="rpq").strip()},
    {PQ9.pq_adc_sql("av_base", "av", "vec_id", 64, m=4, k=8,
                    iterations=2, prefix="ppq").strip()},
    rr AS (
      SELECT ROUND(AVG(CASE WHEN in_exact_topk THEN 1.0 ELSE 0.0 END), 6)
             AS recall_rotated
      FROM rpq_topk
    ),
    rp AS (
      SELECT ROUND(AVG(CASE WHEN in_exact_topk THEN 1.0 ELSE 0.0 END), 6)
             AS recall_plain
      FROM ppq_topk
    )
    SELECT t.q_pid, t.rank, t.pid, t.adc_d2, t.in_exact_topk,
           rr.recall_rotated, rp.recall_plain
    FROM rpq_topk t, rr, rp ORDER BY t.q_pid, t.rank
    """,
)
def pq_rotated_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-lite — PCA-rotated PQ vs plain PQ, head to head on a planted
    anisotropic corpus (operators/opq.py, r11 — VERDICT ask #8): the
    embeddings are deterministically mixed so variance concentrates in
    a correlated 8-dim subspace, then BOTH pipelines quantize the same
    corpus — rotated: top-8 PCA projection (6dp deflation trajectory) →
    PQ(m=4, k=8) in the rotated space; plain: PQ(m=4, k=8) on the raw
    64 dims. Each carries the exact ORIGINAL-space top-5 twin, and the
    row reports both recalls side by side — rotated beats plain ~6× on
    this corpus (pinned in pytest), the measurable Ge-et-al. claim. The
    oracle replays the mix, the full PCA chain, the rotation, both PQ
    chains, both exact twins, and both recall folds. Reference
    comparison: n/a (no vector surface).

    100 TB shape: one covariance pass + corpus-independent deflation
    rounds + one projection pass + PQ's documented shape; the only
    cartesians are the bounded nq=3 exact twins (certification only)."""
    e = load(spark, sf_dir, "embeddings")
    av = _aniso_vectors(e).localCheckpoint(eager=True)
    rotated = OPQ.pq_rotated_topk(
        av, "av", "vec_id", 64, r=8, m=4, k=8,
        iterations=2, pca_iterations=6,
    )
    plain = PQ9.pq_adc_topk(
        av, "av", "vec_id", 64, m=4, k=8, iterations=2
    )
    flag = F.when(F.col("in_exact_topk"), 1.0).otherwise(0.0)
    rr = rotated.agg(F.round(F.avg(flag), 6).alias("recall_rotated"))
    rp = plain.agg(F.round(F.avg(flag), 6).alias("recall_plain"))
    return (
        rotated.crossJoin(F.broadcast(rr))
        .crossJoin(F.broadcast(rp))
        .orderBy("q_pid", "rank")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (operators/unigram.py, r11)
# ---------------------------------------------------------------------------

from rippledb_engine.operators.unigram import (  # noqa: E402
    unigram_oracle_sql,
    unigram_train,
)


@query("unigram_tokenize_accounting", oracle=unigram_oracle_sql(rounds=2))
def unigram_tokenize_accounting(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unigram-LM tokenizer training + tokenization, certified per EM
    round (operators/unigram.py, r11 — VERDICT ask #6; Kudo 2018's
    SentencePiece unigram model in its deterministic Viterbi-EM form):
    substring seeding → per-round Viterbi segmentation of the distinct
    words (bounded DP, every cell 6dp-rounded, longest-piece tie-break)
    → EM piece pruning + renormalization. Each round's row carries
    vocab_size (the prune visible round-over-round), total corpus
    tokens, the exact-integer corpus log-likelihood (×10⁶-BIGINT sums —
    monotone improvement is the EM certificate, pinned in pytest), and
    seg_md5 — the md5 of EVERY word's segmentation, so one flipped
    split anywhere breaks the hash. The oracle replays seeding, all 12
    DP positions of both rounds, backtracking, counts, pruning, and
    renormalization as unrolled CTEs. Reference comparison: n/a (no
    tokenizer surface).

    100 TB shape: state is the DISTINCT-word table (the BPE reduction);
    per round one projection pass (the two folds) + one piece-keyed
    count agg; the corpus is touched once (word counts). Words longer
    than the DP bound refuse loudly."""
    d = load(spark, sf_dir, "documents")
    _, stats = unigram_train(d, "text", rounds=2)
    return stats.orderBy("round")


# ---------------------------------------------------------------------------
# MPEG-1 intra-frame video decode (operators/mpeg1.py, r11)
# ---------------------------------------------------------------------------

from rippledb_engine.operators import multimodal as MM9  # noqa: E402


@query(
    "mpeg1_frame_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 2),
    dims AS (
      SELECT doc_id,
             CAST(16 * (1 + doc_id % 2) AS BIGINT) AS w,
             CAST(16 * (1 + doc_id % 3) AS BIGINT) AS h,
             CAST(1 + doc_id % 3 AS BIGINT) AS nf,
             CAST(CASE 1 + doc_id % 5
                  WHEN 1 THEN 41708 WHEN 2 THEN 41666 WHEN 3 THEN 40000
                  WHEN 4 THEN 33366 ELSE 33333 END AS BIGINT) AS us
      FROM ids
    ),
    fr AS (
      SELECT doc_id, w, h, us, f
      FROM dims, UNNEST(range(0, nf, 2)) AS u(f)
    ),
    ysum AS (
      SELECT doc_id, f, w * h AS n_pixels,
             64 * SUM((43 * doc_id + 19 * f + 13 * b) % 256) AS y_sum
      FROM fr, UNNEST(range(0, (w // 8) * (h // 8))) AS q(b)
      GROUP BY doc_id, f, w, h
    ),
    csum AS (
      SELECT doc_id, f,
             64 * SUM((23 * doc_id + 7 * f + 11 * b) % 256) AS cb_sum,
             64 * SUM((29 * doc_id + 5 * f + 3 * b) % 256) AS cr_sum
      FROM fr, UNNEST(range(0, (w // 16) * (h // 16))) AS q(b)
      GROUP BY doc_id, f
    ),
    res AS (
      SELECT doc_id, f,
             SUM((i * 4 + j + 1)
                 * ((43 * doc_id + 19 * f
                     + 13 * ((((i * h) // 4) // 8) * (w // 8)
                             + ((j * w) // 4) // 8)) % 256))
               AS resized_wsum
      FROM fr, generate_series(0, 3) AS gi(i), generate_series(0, 3) AS gj(j)
      GROUP BY doc_id, f
    )
    SELECT y.doc_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames_sampled,
           CAST(MIN(d.us) AS BIGINT) AS us_per_frame,
           CAST(SUM(y.n_pixels) AS BIGINT) AS total_pixels,
           CAST(SUM(y.y_sum) AS BIGINT) AS y_sum,
           CAST(SUM(c.cb_sum) AS BIGINT) AS cb_sum,
           CAST(SUM(c.cr_sum) AS BIGINT) AS cr_sum,
           CAST(SUM(r.resized_wsum) AS BIGINT) AS resized_wsum
    FROM ysum y
    JOIN csum c ON c.doc_id = y.doc_id AND c.f = y.f
    JOIN res r ON r.doc_id = y.doc_id AND r.f = y.f
    JOIN dims d ON d.doc_id = y.doc_id
    GROUP BY y.doc_id ORDER BY media_id
    """,
)
def mpeg1_frame_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 I-frame video decode (operators/mpeg1.py, r11 —
    VERDICT ask #2, the largest documented multimodal stub closed for
    the intra path): synthesize intra-only MPEG-1 elementary streams
    (sequence/GOP/picture/slice/macroblock layers, Annex B VLC entropy
    coding, differential DC, 4:2:0), walk them back picture by picture,
    entropy-decode + dequantize + IDCT every 2nd frame, resize luma 4×4
    via the shared resize_nearest, and report closed-form digests. The
    fixture frames are BLOCK-CONSTANT (DC-only blocks — the content
    class where MPEG-1 intra coding is numerically exact: the DC path
    has no quantizer, recon = dc·8; mjpeg_frame_accounting precedent),
    which is what lets the SQL oracle recompute every decoded pixel
    from id arithmetic. A VLC table off by one code, a mis-signed DC
    differential, a wrong predictor reset, a zigzag slot swapped, or an
    IDCT scaling error changes y_sum/cb_sum/cr_sum; any pixel
    REORDERING changes the position-weighted resized_wsum; a frame-rate
    table error changes us_per_frame. AC-bearing and foreign streams
    are covered by pytest against an independent numpy IDCT; P/B
    pictures refuse loudly. Reference comparison: n/a (no binary
    surface).

    100 TB shape: identical to avi_frame_accounting — one Arrow
    mapInPandas where the payload bytes live, 1→n_frames expansion in
    the kernel, one media-keyed hash-agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)
    media = MM9.synthesize_mpeg1_streams(d, "doc_id")
    stats = MM9.mpeg1_frame_pixel_stats(media, every_n=2, out_w=4, out_h=4)
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
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Palette PNG with tRNS alpha (r11 — formerly a loud refusal)
# ---------------------------------------------------------------------------


@query(
    "png_trns_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 4),
    shp AS (
      SELECT doc_id, CAST(5 + doc_id % 7 AS INT) AS w,
             CAST(4 + doc_id % 5 AS INT) AS h
      FROM ids
    ),
    px AS (
      SELECT doc_id, w, h, k, (31 * doc_id + 7 * k) % 16 AS idx
      FROM shp, UNNEST(range(0, w * h)) AS u(k)
    ),
    ch AS (
      SELECT doc_id, w, h, k,
             (61 * doc_id + 5 * idx) % 256 AS r,
             (67 * doc_id + 3 * idx) % 256 AS g,
             (71 * doc_id + 9 * idx) % 256 AS b,
             CASE WHEN idx < 10 THEN (73 * doc_id + 7 * idx) % 256
                  ELSE 255 END AS a
      FROM px
    )
    SELECT doc_id AS media_id, MIN(w) AS width, MIN(h) AS height,
           CAST(3 AS INT) AS color_type, CAST(4 AS INT) AS channels,
           CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(SUM(g) AS BIGINT) AS g_sum,
           CAST(SUM(b) AS BIGINT) AS b_sum,
           CAST(SUM(a) AS BIGINT) AS a_sum,
           CAST(SUM((k + 1) * (r + g + b)) AS BIGINT) AS rgb_wsum
    FROM ch GROUP BY doc_id ORDER BY media_id
    """,
)
def png_trns_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palette PNG with tRNS alpha decoded for real (r11 — closes the
    documented refusal at the old multimodal.py tRNS branch): synthesize
    palette PNGs carrying a 10-entry tRNS against a 16-entry PLTE,
    decode through the full chunk-walk/inflate/unfilter/palette-expand
    path with the RGBA expansion (alpha from tRNS; entries past its
    tail opaque per PNG §11.3.2.1), and report per-channel sums plus
    the position-weighted digest. The oracle recomputes every decoded
    channel — including every alpha — from the id arithmetic, so a
    wrong tRNS lookup, a mis-handled short table, or a channel shift
    breaks the hash. Reference comparison: n/a (no binary surface).

    100 TB shape: the documented PNG path — Arrow mapInPandas where the
    payload lives, one media-keyed agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 4)
    media = MM9.synthesize_trns_pngs(d, "doc_id")
    return (
        MM9.png_color_stats(media)
        .select(
            "media_id", "width", "height", "color_type", "channels",
            "r_sum", "g_sum", "b_sum", "a_sum", "rgb_wsum",
        )
        .orderBy("media_id")
    )


from rippledb_engine.operators.unigram import (  # noqa: E402
    distinct_words as _uni_words,
    unigram_apply_sql,
    viterbi_segment as _uni_viterbi,
)


@query("unigram_doc_tokens", oracle=unigram_apply_sql(rounds=2))
def unigram_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer SERVING path (r11 — beside the training
    accounting): tokenize every document with the trained-and-pruned
    vocab — Viterbi runs once per DISTINCT word, and documents join
    their word stream back to those segmentations (the broadcast-
    lookup serving shape; the corpus is never re-segmented per
    occurrence). Per document: word count, subword token count, and
    tokens_md5 — the md5 of the document's full piece sequence in word
    order, so one flipped split or one reordered word anywhere in any
    document breaks the hash. The oracle replays training AND the
    word-stream join. Reference comparison: n/a.

    100 TB shape: training's documented distinct-word shape + ONE
    corpus explode joined to the (small) word→segmentation table —
    broadcast-able, map-side join at scale."""
    d = load(spark, sf_dir, "documents")
    words = _uni_words(d, "text").localCheckpoint(eager=True)
    vocab, _ = unigram_train(d, "text", rounds=2, words=words)
    seg = _uni_viterbi(words, vocab).select(
        "word",
        F.size("pieces").alias("np"),
        F.array_join("pieces", "+").alias("seg"),
    )
    docw = (
        d.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias(
                "i0", "word"
            ),
        )
        .where(F.col("word") != "")
        .select("doc_id", (F.col("i0") + 1).alias("i"), "word")
    )
    return (
        docw.join(F.broadcast(seg), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("np").cast("bigint").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("i", "seg"))
                        ),
                        lambda st: st["seg"],
                    ),
                    " ",
                )
            ).alias("tokens_md5"),
        )
        .orderBy("doc_id")
    )


@query(
    "mpeg1_gop_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 1),
    dims AS (
      SELECT doc_id,
             CAST(16 * (2 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(1 + doc_id % 2 AS BIGINT) AS np,
             CAST(CASE 1 + doc_id % 5
                  WHEN 1 THEN 41708 WHEN 2 THEN 41666 WHEN 3 THEN 40000
                  WHEN 4 THEN 33366 ELSE 33333 END AS BIGINT) AS us
      FROM ids
    ),
    fr AS (
      SELECT doc_id, w, h, us, f
      FROM dims, UNNEST(range(0, np + 1)) AS u(f)
    ),
    ysum AS (
      SELECT doc_id, f, w * h AS n_pixels,
             64 * SUM((41 * doc_id + 11 * (r * (w // 8) +
                 CASE WHEN r < 2
                      THEN 2 * GREATEST(c // 2 - f, 0) + c % 2
                      ELSE c END)) % 256) AS y_sum
      FROM fr, UNNEST(range(0, 4)) AS ur(r),
           LATERAL UNNEST(range(0, w // 8)) AS uc(c)
      GROUP BY doc_id, f, w, h
    ),
    csum AS (
      SELECT doc_id, f,
             64 * SUM((17 * doc_id + 5 * (r * (w // 16) +
                 CASE WHEN r = 0 THEN GREATEST(c - f, 0) ELSE c END))
                 % 256) AS cb_sum,
             64 * SUM((19 * doc_id + 3 * (r * (w // 16) +
                 CASE WHEN r = 0 THEN GREATEST(c - f, 0) ELSE c END))
                 % 256) AS cr_sum
      FROM fr, UNNEST(range(0, 2)) AS ur(r),
           LATERAL UNNEST(range(0, w // 16)) AS uc(c)
      GROUP BY doc_id, f
    ),
    res AS (
      SELECT doc_id, f,
             SUM((i * 4 + j + 1)
                 * ((41 * doc_id + 11 * (i * (w // 8) +
                     CASE WHEN i < 2
                          THEN 2 * GREATEST((((j * w) // 4) // 8) // 2 - f, 0)
                               + (((j * w) // 4) // 8) % 2
                          ELSE ((j * w) // 4) // 8 END)) % 256))
               AS resized_wsum
      FROM fr, generate_series(0, 3) AS gi(i), generate_series(0, 3) AS gj(j)
      GROUP BY doc_id, f
    )
    SELECT y.doc_id AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames_sampled,
           CAST(MIN(d.us) AS BIGINT) AS us_per_frame,
           CAST(SUM(y.n_pixels) AS BIGINT) AS total_pixels,
           CAST(SUM(y.y_sum) AS BIGINT) AS y_sum,
           CAST(SUM(c.cb_sum) AS BIGINT) AS cb_sum,
           CAST(SUM(c.cr_sum) AS BIGINT) AS cr_sum,
           CAST(SUM(r.resized_wsum) AS BIGINT) AS resized_wsum
    FROM ysum y
    JOIN csum c ON c.doc_id = y.doc_id AND c.f = y.f
    JOIN res r ON r.doc_id = y.doc_id AND r.f = y.f
    JOIN dims d ON d.doc_id = y.doc_id
    GROUP BY y.doc_id ORDER BY media_id
    """,
)
def mpeg1_gop_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 MOTION COMPENSATION decoded for real (operators/mpeg1.py,
    r11 — the P-picture extension over mpeg1_frame_accounting's
    intra-only GOPs): each stream is an I picture followed by 1-2
    zero-residual P pictures whose macroblock row 0 SHIFTS right by one
    MB per frame (forward MC, differentially-coded vectors crossing the
    modulo-32 wrap at the row boundary) while row 1 HOLDS via skipped
    macroblocks — so one certified row exercises Table B.2b macroblock
    types, Table B.4 motion VLCs, MV differential prediction + wrap,
    the skip-copy rule, and 4:2:0 chroma displacement halving. MC copy
    of block-constant content is lossless, so the oracle recomputes
    every decoded pixel of every frame (shifted row, held row, chroma)
    in closed form; a wrong wrap, a swapped sign bit, a missed
    predictor reset, or an off-by-one-MB copy breaks y_sum/cb_sum/
    cr_sum, and any pixel reordering breaks resized_wsum. (B pictures,
    residual blocks and half-pel vectors decode as of r12 — certified
    by their own rows in queries/pipeline10.) Reference comparison:
    n/a (no binary surface).

    100 TB shape: identical to the other video paths — Arrow
    mapInPandas where the payload lives, 1→n_frames expansion in the
    kernel, one media-keyed agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 1)
    media = MM9.synthesize_mpeg1_gops(d, "doc_id")
    stats = MM9.mpeg1_frame_pixel_stats(media, every_n=1, out_w=4, out_h=4)
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
        )
        .orderBy("media_id")
    )


@query(
    "mpeg1_p_residual_accounting",
    oracle="""
    WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 6 = 3),
    dims AS (
      SELECT doc_id,
             CAST(16 * (2 + doc_id % 2) AS BIGINT) AS w,
             CAST(32 AS BIGINT) AS h,
             CAST(CASE 1 + doc_id % 5
                  WHEN 1 THEN 41708 WHEN 2 THEN 41666 WHEN 3 THEN 40000
                  WHEN 4 THEN 33366 ELSE 33333 END AS BIGINT) AS us
      FROM ids
    ),
    blk AS (
      SELECT doc_id, w, r, c,
             (41 * doc_id + 11 * (r * (w // 8) + c)) % 256 AS y0,
             ((r // 2) * (w // 16) + c // 2) AS mb,
             ((r % 2) * 2 + c % 2) AS bi
      FROM dims, UNNEST(range(0, 4)) AS ur(r),
           LATERAL UNNEST(range(0, w // 8)) AS uc(c)
    ),
    blk2 AS (
      SELECT doc_id, w, r, c, y0,
             CAST(LEAST(255, GREATEST(0, FLOOR(
               y0 + (1 - 2 * ((mb + bi) % 2))
                  * (16 * (1 + (doc_id + 3 * mb + bi) % 5) + 7) / 8.0
               + 0.5))) AS BIGINT) AS y1
      FROM blk
    ),
    ysum AS (
      SELECT doc_id, 64 * SUM(y0 + y1) AS y_sum FROM blk2 GROUP BY doc_id
    ),
    csum AS (
      SELECT doc_id,
             2 * 64 * SUM((17 * doc_id + 5 * (r * (w // 16) + c)) % 256)
               AS cb_sum,
             2 * 64 * SUM((19 * doc_id + 3 * (r * (w // 16) + c)) % 256)
               AS cr_sum
      FROM dims, UNNEST(range(0, 2)) AS ur(r),
           LATERAL UNNEST(range(0, w // 16)) AS uc(c)
      GROUP BY doc_id
    ),
    res AS (
      SELECT b.doc_id,
             SUM((i * 4 + j + 1) * (b.y0 + b.y1)) AS resized_wsum
      FROM generate_series(0, 3) AS gi(i),
           generate_series(0, 3) AS gj(j), blk2 b
      WHERE b.r = i AND b.c = (((j * b.w) // 4) // 8)
      GROUP BY b.doc_id
    )
    SELECT d.doc_id AS media_id,
           CAST(2 AS BIGINT) AS n_frames_sampled,
           d.us AS us_per_frame,
           CAST(2 * d.w * d.h AS BIGINT) AS total_pixels,
           CAST(y.y_sum AS BIGINT) AS y_sum,
           CAST(c.cb_sum AS BIGINT) AS cb_sum,
           CAST(c.cr_sum AS BIGINT) AS cr_sum,
           CAST(r.resized_wsum AS BIGINT) AS resized_wsum
    FROM dims d
    JOIN ysum y ON y.doc_id = d.doc_id
    JOIN csum c ON c.doc_id = d.doc_id
    JOIN res r ON r.doc_id = d.doc_id
    ORDER BY media_id
    """,
)
def mpeg1_p_residual_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG-1 RESIDUAL-CODED P pictures decoded for real (r12 — closes
    the r11 refusal, VERDICT ask #2): each stream is an I picture plus
    one P picture in which EVERY macroblock is pred-mc-cbp — Table B.3
    coded_block_pattern, dct_coeff_first's '1s'/table codes, non-intra
    dequant ((2·QF+Sign)·qscale·W)/16 with truncation toward zero +
    oddification (§2.4.4.2), and IDCT-ADD of the residual onto the MC
    prediction. DC-only residuals on block-constant predictions keep
    the whole decode closed-form: rec = ±(16·L+7) is odd, so
    round(y0 + rec/8) never ties and both engines agree bit-for-bit on
    every pixel of every frame. Each luma block carries a DIFFERENT
    signed level keyed by (macroblock, block index), and resized_wsum
    weights pixels by position — a wrong CBP bit order, a swapped
    dequant sign, a missed oddification, or residuals landing on the
    wrong block all break the row. (B pictures and half-pel vectors
    decode as of r12 — certified by their own pipeline10 rows.)
    Reference comparison: n/a (no media surface).

    100 TB shape: identical to the other video paths — Arrow
    mapInPandas where the payload lives, 1→n_frames expansion in the
    kernel, one media-keyed agg."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 3)
    media = MM9.synthesize_mpeg1_residual_gops(d, "doc_id")
    stats = MM9.mpeg1_frame_pixel_stats(media, every_n=1, out_w=4, out_h=4)
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
        )
        .orderBy("media_id")
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: threshold sweep (r11)
# ---------------------------------------------------------------------------

_QC_THRESHOLDS = [-1.0, -0.5, 0.0, 0.5, 1.0]
_QC_TH_SQL = "[" + ", ".join(str(t) for t in _QC_THRESHOLDS) + "]"


@query(
    "classifier_threshold_sweep",
    oracle=f"""
    WITH {_qc_features_sql().strip()},
    qc_train AS MATERIALIZED (
      SELECT x, CASE WHEN s > {_QC_MARGIN} THEN 1.0 ELSE 0.0 END AS y
      FROM qc_lab WHERE abs(s) > {_QC_MARGIN}
    ),
    {logistic_train_sql("qc_train", _QC_DIMS, iterations=_QC_ITERS,
                        lr=_QC_LR, prefix="qc").strip()},
    ts_scored AS MATERIALIZED (
      SELECT l.doc_id,
             ROUND(list_dot_product(w.w, l.x), {LOGIT_DP}) AS score,
             CASE WHEN l.s > {_QC_MARGIN} THEN 1 ELSE 0 END AS y
      FROM qc_lab l, qc_w w
      WHERE abs(l.s) > {_QC_MARGIN}
    ),
    ts_counts AS (
      SELECT t.threshold,
             CAST(SUM(CASE WHEN score > t.threshold AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN score > t.threshold AND y = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN score <= t.threshold AND y = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM ts_scored, UNNEST({_QC_TH_SQL}) AS t(threshold)
      GROUP BY t.threshold
    )
    SELECT threshold, tp, fp, fn,
           ROUND(CASE WHEN tp + fp > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fp)
                      ELSE 0.0 END, {LOGIT_DP}) AS precision,
           ROUND(CASE WHEN tp + fn > 0
                      THEN CAST(tp AS DOUBLE) / (tp + fn)
                      ELSE 0.0 END, {LOGIT_DP}) AS recall
    FROM ts_counts ORDER BY threshold
    """,
)
def classifier_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model EVALUATION for the trained quality gate (r11 — the
    standard threshold-calibration sweep a pipeline runs before
    choosing its operating point): train the certified logistic model,
    score the labeled corpus once, and report confusion counts +
    precision/recall at five decision thresholds. Counts are exact
    integers (both engines agree bit-for-bit), ratios divide those
    integers identically. Monotonicity (recall non-increasing in the
    threshold) is pinned in pytest — the structural property a correct
    sweep must have. Reference comparison: n/a (no ML surface).

    100 TB shape: ONE scoring pass (broadcast 12-vector), then a
    5-threshold × corpus flag aggregation — map-side combinable, the
    thresholds ride as a tiny exploded literal array."""
    d = load(spark, sf_dir, "documents")
    lab = _qc_labeled(d).localCheckpoint(eager=True)
    train = lab.where(F.abs(F.col("s")) > _QC_MARGIN).select(
        "doc_id", "x",
        F.when(F.col("s") > _QC_MARGIN, 1).otherwise(0).alias("y"),
    )
    w = logistic_train(
        train.select("x", F.col("y").cast("double").alias("y")),
        "x", "y", _QC_DIMS, iterations=_QC_ITERS, lr=_QC_LR,
    )
    scored = logistic_predict(train, "x", "doc_id", w, _QC_DIMS).join(
        train.select("doc_id", "y"), "doc_id"
    )
    ths = spark.createDataFrame(
        [(t,) for t in _QC_THRESHOLDS], "threshold double"
    )
    counts = (
        scored.crossJoin(F.broadcast(ths))
        .groupBy("threshold")
        .agg(
            F.sum(F.when((F.col("score") > F.col("threshold"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint").alias("tp"),
            F.sum(F.when((F.col("score") > F.col("threshold"))
                         & (F.col("y") == 0), 1).otherwise(0))
            .cast("bigint").alias("fp"),
            F.sum(F.when((F.col("score") <= F.col("threshold"))
                         & (F.col("y") == 1), 1).otherwise(0))
            .cast("bigint").alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    ).otherwise(0.0)
    return counts.select(
        "threshold", "tp", "fp", "fn",
        F.round(prec, LOGIT_DP).alias("precision"),
        F.round(rec, LOGIT_DP).alias("recall"),
    ).orderBy("threshold")
