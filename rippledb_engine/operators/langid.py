"""Trained multiclass language-ID classifier — deterministic full-batch
SOFTMAX regression (multinomial logistic; Bishop, "Pattern Recognition
and Machine Learning" §4.3.4: ∇_k = Σ (1[y=k] − p_k)·x) over hashed
char-ngram features — the learned lang-ID gate production corpus
pipelines (CCNet, fastText lid.176-style) run where this repo
previously offered only the heuristic char-trigram profile
(functions/text.py). r12, VERDICT ask #1.

This is the K-class generalization of operators/classifier.py's
replayable binary machinery, under the SAME cross-engine contract:

- weights are ONE flat row-major K·d vector (class c, dim j at c·d+j)
  starting at zero; a FIXED number of full-batch GD rounds runs
  W_c ← round(W_c + lr·g_c/n, 6dp);
- per-row logits are 6dp-rounded index-ordered dot products; softmax
  is max-shifted (exp(z_c − max z) / Σ — the standard stabilization,
  identical arithmetic in both engines since the fold starts at 0.0,
  making Spark's aggregate() and DuckDB's list_reduce() the same
  left-to-right grouping);
- each row's per-(class, dim) gradient contribution is rounded to a
  ×10⁶ BIGINT before the sum — order-insensitive, so 32-way partial
  aggregation and DuckDB's single-threaded fold produce identical
  integers; the lone cross-engine risk is one ulp of exp(), absorbed
  by the grid;
- serving is exp-free: predicted class = argmax of the 6dp logits
  (first index on ties — array_position / list_position agree).

Features: the hashing trick (Weinberger et al. 2009) applied to
CHARACTER n-grams — index = md5(gram) mod (d−1), sign = ±1 from an
independent md5 bit, cell = signed count / total grams (a per-document
ratio of exact integers, so both engines divide the same numbers) —
plus a trailing intercept 1.0. No vocabulary table at any scale.

Self-verification: training on PLANTED per-language token
distributions (disjoint alphabets per class) makes the fitted accuracy
its own certificate — the certified query's row shows whether the
planted languages were recovered, no trust in the round count needed.

Scale shape: featurization is one explode + one (id, cell)-keyed
map-side-combinable sum; training is ``iterations`` corpus passes,
each ONE K·d-key integer aggregation over an eager-checkpointed
feature frame with the flat weight row broadcast back. Per-round
reduce state is K·d BIGINTs (≤ a few hundred). Overflow bound as in
classifier.py: n·10⁶·max|x_j| < 2⁶³ — with ratio features |x_j| ≤ 1,
safe beyond 10¹² rows.

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
from rippledb_engine.operators.skew import (
    spread_for_compute as _spread_for_compute,
)
from rippledb_engine.operators.classifier import LOGIT_DP, _SCALE, _dot


def char_ngram_hash_features(
    df: DataFrame, text_col: str, id_col: str, dims: int = 16, n: int = 2
) -> DataFrame:
    """→ (id_col, x array<double>[dims]): ``dims − 1`` signed hashed
    char-n-gram cells (each round(signed_count / total_grams, 6dp))
    plus a trailing intercept 1.0. Documents shorter than ``n`` chars
    get the intercept-only vector — accounting never loses rows."""
    if dims < 2:
        raise ValueError("dims must be >= 2 (cells + intercept)")
    if n < 1:
        raise ValueError("n must be >= 1")
    cells = dims - 1
    # texts shorter than n grams are pre-filtered: Spark's
    # sequence(1, 0) is DESCENDING [1, 0], which would synthesize two
    # junk grams per short row that only the tg>0 guard discards later
    # (wasted hash+shuffle work and a hidden coupling; the SQL twin's
    # range(1, 1) is simply empty)
    grams = df.where(F.length(text_col) >= n).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length(text_col) - (n - 1)),
                lambda i: F.substr(F.col(text_col), i, F.lit(n)),
            )
        ).alias("g"),
    )
    h = F.md5(F.col("g"))
    idx = F.pmod(
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint"), F.lit(cells)
    )
    sign = F.when(
        F.conv(F.substring(h, 13, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    sums = (
        grams.select("id", idx.alias("i"), sign.alias("s"))
        .groupBy("id", "i")
        .agg(F.sum("s").alias("cs"))
    )
    vecs = (
        sums.groupBy("id")
        .agg(
            F.map_from_arrays(
                F.collect_list("i"), F.collect_list("cs")
            ).alias("m")
        )
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.greatest(F.length(text_col) - (n - 1), F.lit(0))
        .cast("double")
        .alias("tg"),
    )
    return base.join(vecs, "id", "left").select(
        F.col("id").alias(id_col),
        F.concat(
            F.transform(
                F.sequence(F.lit(0), F.lit(cells - 1)),
                lambda i: F.when(F.col("tg") > 0, F.round(
                    F.coalesce(
                        F.element_at("m", i.cast("bigint")), F.lit(0.0)
                    ) / F.col("tg"),
                    LOGIT_DP,
                )).otherwise(F.lit(0.0)),
            ),
            F.array(F.lit(1.0)),
        ).alias("x"),
    )


def char_ngram_hash_features_sql(
    table: str, text_col: str, id_col: str, dims: int = 16, n: int = 2,
    prefix: str = "cg",
) -> str:
    """DuckDB CTE twin of :func:`char_ngram_hash_features`; yields
    ``{prefix}_vecs`` ({id_col}, x DOUBLE[])."""
    if dims < 2:
        raise ValueError("dims must be >= 2 (cells + intercept)")
    cells = dims - 1
    h = "md5(g)"
    return f"""{prefix}_grams AS (
      SELECT {id_col} AS id, g FROM (
        SELECT {id_col},
               UNNEST(list_transform(
                 range(1, GREATEST(length({text_col}) - {n - 1}, 0) + 1),
                 i -> substr({text_col}, CAST(i AS INT), {n}))) AS g
        FROM {table}
      )
    ),
    {prefix}_cells AS (
      SELECT id,
             CAST(('0x' || substr({h}, 1, 12)) AS BIGINT) % {cells} AS i,
             SUM(CASE WHEN CAST(('0x' || substr({h}, 13, 1)) AS BIGINT)
                           % 2 = 0
                      THEN 1.0 ELSE -1.0 END) AS cs
      FROM {prefix}_grams GROUP BY id, i
    ),
    {prefix}_agg AS (
      SELECT id, list(i ORDER BY i) AS idxs, list(cs ORDER BY i) AS css
      FROM {prefix}_cells GROUP BY id
    ),
    {prefix}_vecs AS (
      SELECT b.{id_col},
             list_append(
               CASE WHEN b.tg > 0 THEN
                 list_transform(
                   COALESCE(
                     (SELECT list_transform(range(0, {cells}), k ->
                        COALESCE(a.css[list_position(a.idxs, k)], 0.0))
                      FROM {prefix}_agg a WHERE a.id = b.{id_col}),
                     list_transform(range(0, {cells}), k -> 0.0)),
                   v -> ROUND(v / b.tg, {LOGIT_DP}))
               ELSE list_transform(range(0, {cells}), k -> 0.0) END,
               1.0) AS x
      FROM (SELECT {id_col},
                   CAST(GREATEST(length({text_col}) - {n - 1}, 0)
                        AS DOUBLE) AS tg
            FROM {table}) b
    )"""


def _class_logits(w, x, k: int, d: int):
    """array<double>[k] of 6dp-rounded per-class logits from the flat
    row-major weight vector (index-ordered folds, ≡ the SQL twin)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda c: F.round(_dot(F.slice(w, c * d + 1, d), x), LOGIT_DP),
    )


def _softmax_from_logits(z):
    """Max-shifted softmax probabilities from a logits array. The fold
    starts at 0.0, so Spark's left fold and DuckDB's list_reduce group
    additions identically."""
    zm = F.array_max(z)
    e = F.transform(z, lambda v: F.exp(v - zm))
    s = F.aggregate(e, F.lit(0.0), lambda a, b: a + b)
    return F.transform(e, lambda v: v / s)


def softmax_train(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    dims: int,
    k: int,
    iterations: int = 8,
    lr: float = 2.0,
) -> DataFrame:
    """→ 1-row DataFrame(w array<double>[k·dims], n bigint): the 6dp
    flat weight matrix after ``iterations`` full-batch softmax-GD
    rounds from the zero start, over rows whose ``vec_col`` has exactly
    ``dims`` entries and whose ``label_col`` is an int in [0, k).
    Raises loudly on an empty corpus."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if dims < 1 or k < 2:
        raise ValueError("need dims >= 1 and k >= 2")
    # rotator: deterministic release of the feats checkpoint on exit,
    # replacing the GC-dependent path (see classifier.py)
    rot = _CheckpointRotator(df.sparkSession)
    # r15: keyless spread before the checkpoint (see classifier.py —
    # same rationale, measured -27%/round here)
    feats = (
        _spread_for_compute(
            df.select(
                as_double_array(vec_col).alias("x"),
                F.col(label_col).cast("int").alias("y"),
            ).where(F.size("x") == dims)
        )
        .localCheckpoint(eager=True)  # iterations re-scan, never re-derive
    )
    n = feats.count()  # bounded: ONE scalar (the corpus size)
    if n == 0:
        raise ValueError("softmax_train: empty training corpus")
    spark = df.sparkSession
    # r15 (guide §2.4/§5, the classifier.py rewrite shared verbatim):
    # the K·d iterate is driver-held and embedded as literals, so each
    # GD round is ONE job — gradient agg + the identical
    # element_at/round update over the K·d-row gradient frame, collected
    # as K·d bounded rows — instead of two BroadcastExchanges, a 1-row
    # shuffle and an eager checkpoint per round. All float arithmetic
    # stays in the JVM expression tree; iterates are bit-identical.
    w = [0.0] * (k * dims)
    # iteration_conf (r15): AQE's per-round re-planning/stage jobs are
    # pure overhead for the fixed-shape K·d-key gradient shuffle (see
    # classifier.py)
    with _iteration_conf(spark, k * dims):
        for _ in range(iterations):
            w = _softmax_round(feats, w, dims, k, lr, n)
    # free feats deterministically
    rot.close()
    return spark.range(1).select(
        F.array(*[F.lit(x) for x in w]).alias("w"),
        F.lit(n).cast("bigint").alias("n"),
    )


def _softmax_round(
    feats: DataFrame, w: list[float], dims: int, k: int, lr: float, n: int
) -> list[float]:
    """One full-batch softmax-GD round: gradient aggregation AND the
    element_at/round weight update in ONE job over the checkpointed
    feature frame, the current flat iterate embedded as a literal
    array. Returns the new iterate (K·d bounded rows collected)."""
    wlit = F.array(*[F.lit(x) for x in w])
    zed = feats.select(
        "y", "x", _class_logits(wlit, F.col("x"), k, dims).alias("z")
    )
    probs = zed.select("y", "x", _softmax_from_logits(F.col("z")).alias("p"))
    byx = probs.select("y", "p", F.posexplode("x").alias("j", "xj"))
    contrib = byx.select(
        "j", "xj", "y", F.posexplode("p").alias("c", "pc")
    ).select(
        (F.col("c") * dims + F.col("j")).alias("key"),
        F.round(
            (
                F.when(F.col("y") == F.col("c"), F.lit(1.0)).otherwise(
                    F.lit(0.0)
                )
                - F.col("pc")
            )
            * F.col("xj")
            * _SCALE
        )
        .cast("bigint")
        .alias("cv"),
    )
    grad = contrib.groupBy("key").agg(F.sum("cv").alias("gs"))
    rows = grad.select(
        "key",
        F.round(
            F.element_at(wlit, (F.col("key") + 1).cast("int"))
            + F.lit(lr) * F.col("gs")
            / (F.lit(float(_SCALE)) * F.lit(float(n))),
            LOGIT_DP,
        ).alias("wv"),
    ).collect()  # bounded: K·d rows (the flat weight matrix)
    return [r["wv"] for r in sorted(rows, key=lambda r: r["key"])]


def softmax_predict(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    weights: DataFrame,
    dims: int,
    k: int,
) -> DataFrame:
    """Serve the fitted model: → DataFrame(id_col, pred int) with
    pred = argmax of the 6dp logits (first index on ties) — exp-free,
    one broadcast of the flat K·d vector, no shuffle."""
    v = df.select(
        F.col(id_col).alias("id"), as_double_array(vec_col).alias("x")
    ).where(F.size("x") == dims)
    z = _class_logits(F.col("w"), F.col("x"), k, dims)
    return v.crossJoin(F.broadcast(weights.select("w"))).select(
        F.col("id").alias(id_col),
        (F.array_position(z, F.array_max(z)) - 1).cast("int").alias("pred"),
    )


def softmax_metrics(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    weights: DataFrame,
    dims: int,
    k: int,
) -> DataFrame:
    """→ 1-row DataFrame(accuracy, n_train): exp-free argmax accuracy
    of a fitted weight row against a labeled corpus."""
    feats = df.select(
        as_double_array(vec_col).alias("x"),
        F.col(label_col).cast("int").alias("y"),
    ).where(F.size("x") == dims)
    z = _class_logits(F.col("w"), F.col("x"), k, dims)
    scored = feats.crossJoin(F.broadcast(weights.select("w"))).select(
        "y", (F.array_position(z, F.array_max(z)) - 1).cast("int").alias("pred")
    )
    return scored.agg(
        F.round(
            F.sum(F.when(F.col("pred") == F.col("y"), 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            LOGIT_DP,
        ).alias("accuracy"),
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
    )


def softmax_train_sql(
    feats_rel: str,
    dims: int,
    k: int,
    iterations: int = 8,
    lr: float = 2.0,
    prefix: str = "sx",
) -> str:
    """DuckDB CTE twin of :func:`softmax_train` over a ``feats_rel``
    relation exposing (x DOUBLE[], y INT). Yields ``{prefix}_w`` (1-row
    flat weights DOUBLE[]) and ``{prefix}_scored`` (y, pred) — every
    6dp iterate, the max-shifted softmax, the ×10⁶-BIGINT gradient
    grid, and the exp-free argmax replay the Spark arithmetic
    exactly. One asymmetry, by SQL's nature: softmax_train raises on an
    empty corpus, while this chain yields empty relations — an oracle
    whose feats filter matches nothing surfaces as a row-count mismatch
    at the gate rather than a loud refusal."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    parts = [
        f"""{prefix}_n AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM {feats_rel}
    )""",
        f"""{prefix}_it0 AS (
      SELECT list_transform(range(0, {k * dims}), i -> 0.0) AS w
    )""",
    ]
    zx = (
        f"list_transform(range(0, {k}), c -> ROUND(list_dot_product("
        f"list_slice(w.w, c * {dims} + 1, c * {dims} + {dims}), f.x), "
        f"{LOGIT_DP}))"
    )
    for r in range(1, iterations + 1):
        parts.append(
            f"""{prefix}_p{r} AS (
      SELECT y, x,
             list_transform(z, v -> exp(v - list_max(z))) AS e
      FROM (
        SELECT f.y, f.x, {zx} AS z
        FROM {feats_rel} f, {prefix}_it{r - 1} w
      )
    )"""
        )
        parts.append(
            f"""{prefix}_g{r} AS MATERIALIZED (
      SELECT c * {dims} + j AS key,
             SUM(CAST(ROUND((CASE WHEN f.y = c THEN 1.0 ELSE 0.0 END
                   - f.e[CAST(c AS INT) + 1]
                     / list_reduce(f.e, (a, b) -> a + b))
                 * f.x[CAST(j AS INT) + 1] * {_SCALE}) AS BIGINT)) AS gs
      FROM {prefix}_p{r} f, UNNEST(range(0, {k})) AS uc(c),
           UNNEST(range(0, {dims})) AS uj(j)
      GROUP BY key
    )"""
        )
        parts.append(
            f"""{prefix}_it{r} AS MATERIALIZED (
      SELECT list(ROUND(w.w[CAST(g.key AS INT) + 1] + {lr} * g.gs
                        / ({_SCALE}.0 * n.n), {LOGIT_DP})
                  ORDER BY g.key) AS w
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
      SELECT y, CAST(list_position(z, list_max(z)) - 1 AS INT) AS pred
      FROM (
        SELECT f.y, {zx} AS z
        FROM {feats_rel} f, {prefix}_w w
      )
    )"""
    )
    return ",\n    ".join(parts)
