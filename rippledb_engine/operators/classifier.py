"""Trained quality classifier — deterministic full-batch logistic
regression (Bishop, "Pattern Recognition and Machine Learning" §4.3.2;
the cross-entropy gradient ∇ = Σ (σ(w·x) − y)·x) over dense feature
vectors: the learned document gate every production pretraining
pipeline (DCLM, FineWeb-Edu) runs beside the rule-based Gopher /
LM-perplexity scores.

Replayable-iteration contract (the house pattern from clustering.py /
pca.py): weights start at the deterministic zero vector, a FIXED number
of full-batch gradient-descent rounds runs w ← round(w + lr·g/n, 6dp),
and the per-round gradient uses the INTEGER-SCALED summation trick from
regression.py — each row's per-dimension contribution (y − σ(w·x))·x_j
is rounded to a ×10⁶ BIGINT before the sum, so the reduction is
order-insensitive and both engines fold bit-identical integers. The
margin z = w·x is an index-ordered fold over identically-rounded
doubles (the _dist2 contract), so the lone cross-engine risk is one ulp
of exp(), absorbed by the 10⁻⁶ contribution grid.

Self-verification: metrics (accuracy, log-loss) ride the output row;
training on PLANTED margin-separated labels (a fixed linear rule with a
dead-band excluded) makes the accuracy its own certificate — a reader
needs no trust in the round count, the row shows whether the planted
rule was recovered. Prediction uses z > 0 directly (no exp at serving
time — bit-exact in both engines).

Scale shape: featurization is upstream; training is ``iterations``
corpus passes, each ONE map-side-combinable d-key integer aggregation
over an eager-checkpointed feature frame (never re-derived), with the
d-vector iterate broadcast back — the textbook full-batch GD shuffle
profile. d is small (≤ a few hundred); per-round reduce state is d
BIGINTs. The overflow bound is n·2¹⁰⁶ rows? no — n·max|c| < 2⁶³ with
|c| ≤ 10⁶·max|x_j| (documented, like regression.py: at 10¹² rows keep
max|x_j| ≤ 10³).

Reference comparison: n/a (no ML surface anywhere in
/root/reference/src/ — lib.rs:1-37 exports triples/query types only).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.functions.vector import as_double_array
from rippledb_engine.operators._itergc import (
    CheckpointRotator as _CheckpointRotator,
    iteration_conf as _iteration_conf,
)

LOGIT_DP = 6
_SCALE = 1_000_000


def _dot(a, b):
    """Index-ordered fold dot product (≡ DuckDB list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _sigmoid(z):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def logistic_train(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    dims: int,
    iterations: int = 10,
    lr: float = 1.0,
) -> DataFrame:
    """→ 1-row DataFrame(weights array<double>, n bigint): the 6dp
    weight vector after ``iterations`` full-batch GD rounds from the
    zero start, over rows whose ``vec_col`` has exactly ``dims``
    entries and whose ``label_col`` is 0/1. Raises loudly on an empty
    corpus (a classifier fit on nothing is a bug upstream, not a row
    of NaNs)."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if dims < 1:
        raise ValueError("dims must be >= 1")
    # rotator: the corpus-sized feats checkpoint below is freed
    # DETERMINISTICALLY on the way out (close()) instead of waiting for
    # a driver GC — the residual behind BENCH_r13's steady_state:false
    # trainer respread flags
    rot = _CheckpointRotator(df.sparkSession)
    # r15 note: the keyless feats spread that pays off for the K-class
    # softmax trainer (langid.py) was measured HERE and reverted — a
    # logistic round is one dot per row, dispatch-bound not
    # compute-bound, and 32-task rounds x 16 iterations cost more in
    # scheduling than the map spread saves (back-to-back A/B:
    # 4.01 -> 5.11 s min on quality_classifier_accounting).
    feats = (
        df.select(
            as_double_array(vec_col).alias("x"),
            F.col(label_col).cast("double").alias("y"),
        )
        .where(F.size("x") == dims)
        .localCheckpoint(eager=True)  # iterations re-scan this, never re-derive
    )
    n = feats.count()  # bounded: ONE scalar (the corpus size)
    if n == 0:
        raise ValueError("logistic_train: empty training corpus")
    spark = df.sparkSession
    # r15 (guide §2.4/§5): the iterate is d doubles — driver-held, and
    # embedded as LITERALS in each round's plan instead of riding a
    # broadcast-joined 1-row frame. The r14 loop paid, per round: two
    # BroadcastExchange jobs (iterate into the gradient plan and into
    # the update plan), a 1-row shuffle (groupBy().collect_list) and an
    # eager localCheckpoint job — ~4 scheduler round-trips moving 96
    # bytes. Now each round is ONE job: gradient agg + the SAME
    # element_at/round update expression over the d-row gradient frame,
    # collected as d bounded rows (the BPE ≤32-row driver-collect
    # precedent). Every float op (sigmoid, ×10⁶ grid, round-HALF_UP
    # update) still evaluates in the JVM with the identical expression
    # tree, so iterates are bit-identical to the r14 path.
    w = [0.0] * dims
    # iteration_conf (r15): AQE re-plans and stage-materializes every
    # round's d-row gradient shuffle — pure overhead for a loop whose
    # shape never changes (same lesson as the graph loops); measured
    # jobs-per-train drop ~2x with values bit-identical (integer agg)
    with _iteration_conf(spark, dims):
        for _ in range(iterations):
            w = _gd_round(feats, w, dims, lr, n)
    # free feats deterministically
    rot.close()
    return spark.range(1).select(
        F.array(*[F.lit(x) for x in w]).alias("w"),
        F.lit(n).cast("bigint").alias("n"),
    )


def _gd_round(
    feats: DataFrame, w: list[float], dims: int, lr: float, n: int
) -> list[float]:
    """One full-batch GD round: gradient aggregation AND the
    element_at/round weight update in ONE job over the checkpointed
    feature frame, the current iterate embedded as a literal array.
    Returns the new iterate (d bounded rows collected)."""
    wlit = F.array(*[F.lit(x) for x in w])
    scored = feats.select(
        "y",
        "x",
        _sigmoid(F.round(_dot(wlit, F.col("x")), LOGIT_DP)).alias("p"),
    )
    contrib = scored.select(
        F.posexplode("x").alias("j", "xj"), "y", "p"
    ).select(
        "j",
        F.round((F.col("y") - F.col("p")) * F.col("xj") * _SCALE)
        .cast("bigint")
        .alias("c"),
    )
    grad = contrib.groupBy("j").agg(F.sum("c").alias("gs"))
    rows = grad.select(
        "j",
        F.round(
            F.element_at(wlit, (F.col("j") + 1).cast("int"))
            + F.lit(lr) * F.col("gs")
            / (F.lit(float(_SCALE)) * F.lit(float(n))),
            LOGIT_DP,
        ).alias("wj"),
    ).collect()  # bounded: d rows (the model vector)
    # exactly the r14 assembly: sort by j, take the computed wj's — a j
    # with no gradient rows cannot happen (posexplode emits every j for
    # every row and n > 0)
    return [r["wj"] for r in sorted(rows, key=lambda r: r["j"])]


def logistic_metrics(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    weights: DataFrame,
    dims: int,
) -> DataFrame:
    """→ 1-row DataFrame(accuracy, log_loss, n_train, n_pos): training
    metrics of a fitted weight row (:func:`logistic_train` output)
    against the same corpus. Prediction is the exp-free sign test
    z > 0; the log-loss sum uses the ×10⁶-BIGINT grid (clamped to
    [1e-12, 1−1e-12] before ln, identically in the twin)."""
    feats = df.select(
        as_double_array(vec_col).alias("x"),
        F.col(label_col).cast("double").alias("y"),
    ).where(F.size("x") == dims)
    scored = feats.crossJoin(F.broadcast(weights.select("w"))).select(
        "y", F.round(_dot(F.col("w"), F.col("x")), LOGIT_DP).alias("z")
    )
    p = _sigmoid(F.col("z"))
    pc = F.least(F.greatest(p, F.lit(1e-12)), F.lit(1.0 - 1e-12))
    ll = -(
        F.col("y") * F.log(pc) + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pc)
    )
    li = F.round(ll * _SCALE).cast("bigint")
    correct = (F.col("z") > 0) == (F.col("y") > 0.5)
    return scored.agg(
        F.round(
            F.sum(F.when(correct, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            LOGIT_DP,
        ).alias("accuracy"),
        F.round(
            F.sum(li) / F.lit(float(_SCALE)) / F.count(F.lit(1)), LOGIT_DP
        ).alias("log_loss"),
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.sum(F.col("y").cast("bigint")).cast("bigint").alias("n_pos"),
    )


def logistic_predict(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    weights: DataFrame,
    dims: int,
) -> DataFrame:
    """Serve the fitted gate: → DataFrame(id, score, keep) with
    score = round(w·x, 6dp) and keep = score > 0 — exp-free, bit-exact,
    one broadcast of the d-vector against the corpus (no shuffle)."""
    v = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("x")
    ).where(F.size("x") == dims)
    return v.crossJoin(F.broadcast(weights.select("w"))).select(
        F.col("id").alias(id_col),
        F.round(_dot(F.col("w"), F.col("x")), LOGIT_DP).alias("score"),
        (F.round(_dot(F.col("w"), F.col("x")), LOGIT_DP) > 0).alias("keep"),
    )


def logistic_train_sql(
    feats_rel: str,
    dims: int,
    iterations: int = 10,
    lr: float = 1.0,
    prefix: str = "lgt",
) -> str:
    """DuckDB CTE twin of :func:`logistic_train` + metrics over a
    ``feats_rel`` relation exposing (x DOUBLE[], y DOUBLE). Yields
    ``{prefix}_w`` (1-row weights DOUBLE[]) and ``{prefix}_metrics``
    (accuracy, log_loss, n_train, n_pos) — every 6dp iterate, the
    ×10⁶-BIGINT gradient grid, and the exp-free sign prediction replay
    the Spark arithmetic exactly."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    parts = [
        f"""{prefix}_n AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {feats_rel}
    )""",
        f"""{prefix}_it0 AS (
      SELECT list_transform(range(0, {dims}), k -> 0.0) AS w
    )""",
    ]
    for r in range(1, iterations + 1):
        parts.append(
            f"""{prefix}_g{r} AS MATERIALIZED (
      SELECT j,
             SUM(CAST(ROUND((f.y - 1/(1 + exp(-ROUND(
                    list_dot_product(w.w, f.x), {LOGIT_DP}))))
                  * f.x[j + 1] * {_SCALE}) AS BIGINT)) AS gs
      FROM {feats_rel} f, {prefix}_it{r - 1} w,
           UNNEST(range(0, {dims})) AS u(j)
      GROUP BY j
    )"""
        )
        parts.append(
            f"""{prefix}_it{r} AS MATERIALIZED (
      SELECT list(ROUND(w.w[g.j + 1] + {lr} * g.gs
                        / ({_SCALE}.0 * n.n), {LOGIT_DP})
                  ORDER BY g.j) AS w
      FROM {prefix}_g{r} g, {prefix}_it{r - 1} w, {prefix}_n n
    )"""
        )
    parts.append(
        f"""{prefix}_w AS MATERIALIZED (
      SELECT w FROM {prefix}_it{iterations}
    )"""
    )
    parts.append(
        f"""{prefix}_scored AS (
      SELECT f.y, ROUND(list_dot_product(w.w, f.x), {LOGIT_DP}) AS z
      FROM {feats_rel} f, {prefix}_w w
    )"""
    )
    parts.append(
        f"""{prefix}_metrics AS (
      SELECT ROUND(CAST(SUM(CASE WHEN (z > 0) = (y > 0.5)
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), {LOGIT_DP}) AS accuracy,
             ROUND(SUM(CAST(ROUND((-(y * ln(pc) + (1 - y) * ln(1 - pc)))
                                  * {_SCALE}) AS BIGINT))
                   / {_SCALE}.0 / COUNT(*), {LOGIT_DP}) AS log_loss,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_pos
      FROM (SELECT y, z,
                   LEAST(GREATEST(1/(1 + exp(-z)), 1e-12), 1 - 1e-12) AS pc
            FROM {prefix}_scored)
    )"""
    )
    return ",\n    ".join(parts)


def save_model(path: str, weights: DataFrame) -> None:
    """Persist a fitted model (:func:`logistic_train`'s 1-row
    (w, n) frame) as parquet — the train-once / serve-forever pattern
    (pq.save_index precedent): a pipeline trains on a labeled sample,
    freezes, and gates every future corpus batch with the exp-free
    sign test."""
    weights.write.mode("overwrite").parquet(path)


def load_model(spark, path: str) -> DataFrame:
    """→ the (w, n) weight frame, ready for :func:`logistic_predict` /
    :func:`logistic_metrics`."""
    return spark.read.parquet(path)


# --- the standard 12-dim text featurization (hashed cells + metrics) ----
# Shared by the certified training queries (queries/pipeline9.py) and the
# streaming crawl gate: 8 signed hashed-token cells (scaled /10) ⊕
# [intercept 1.0, token_count/50, stopword_ratio, punct_count/10], every
# entry 6dp-rounded (the cross-engine materialization contract).

TEXT_FEATURE_DIMS = 12


def hashed_text_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """→ (id_col, x array<double>[12]) — the featurization the quality
    classifier trains and serves on (module comment above)."""
    import pyspark.sql.functions as F  # noqa: F811 (local alias clarity)

    from rippledb_engine.functions.text import (
        punct_count,
        stopword_count,
        token_count,
    )
    from rippledb_engine.operators.sketches import feature_hash_vectors

    hv = feature_hash_vectors(df, text_col, id_col, dims=8)
    base = df.select(
        id_col,
        token_count(text_col).alias("tc"),
        stopword_count(text_col).alias("sw"),
        punct_count(text_col).alias("pc"),
    )
    return base.join(hv, id_col).select(
        id_col,
        F.concat(
            F.transform("v", lambda c: F.round(c / 10.0, LOGIT_DP)),
            F.array(
                F.lit(1.0),
                F.round(F.col("tc") / 50.0, LOGIT_DP),
                F.round(
                    F.when(F.col("tc") == 0, F.lit(0.0)).otherwise(
                        F.col("sw").cast("double") / F.col("tc")
                    ),
                    LOGIT_DP,
                ),
                F.round(F.col("pc") / 10.0, LOGIT_DP),
            ),
        ).alias("x"),
    )
