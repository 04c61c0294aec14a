"""Gopher-style repetition / quality filter rules (engine-tier LLM-pipeline
operator; the reference has no document-quality surface at all — SURVEY §2.4).

Implements the published rule family from Rae et al. 2021 ("Scaling Language
Models: ... Gopher", Appendix A1) — the standard pre-training quality gate
between raw crawl text and dedup/packing:

- word-count bounds, mean-word-length bounds;
- alphabetic-word fraction and minimum distinct-stopword presence;
- repetition rules: fraction of word-characters covered by the single most
  frequent {1,2,3}-gram, and fraction covered by REPEATED occurrences
  (2nd and later) of any duplicated 5-gram.

Char-coverage convention (documented because Gopher's prose leaves the
overlap treatment open): a gram's character weight is its word characters
(``length(gram) - (n-1)`` separators); top-n coverage is
``count * weight / total_word_chars`` and dup-n coverage is
``(count-1) * weight / total_word_chars`` summed over duplicated grams —
deterministic, overlap-agnostic, and reproducible in plain SQL, which is
what lets the DuckDB oracle replay the identical arithmetic.

Scale shape — no UDF, no driver loop:

1. the per-doc scalar metrics (word count, mean word length, alpha
   fraction, stopword presence) are pure codegen column expressions over
   the token array — zero shuffles;
2. gram enumeration is one projection (``transform`` + ``slice`` over a
   ``sequence``) followed by ONE ``explode`` — the flatMap shape shared
   with chunking/cleaning;
3. per-(doc, n, gram) counts are one hash-agg keyed by (doc, gram) —
   uniform by construction (a gram key is doc-scoped, so a corpus-frequent
   boilerplate gram does NOT produce a hot key the way a global n-gram DF
   count would);
4. the per-doc rollup is a second hash-agg keyed by doc id, then one
   doc-id equi-join back onto the scalar metrics.

Both shuffles are keyed by doc id (+gram), so the plan is
partition-uniform at any corpus size; per-doc gram multiplicity is bounded
by document length, never by corpus size.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.functions.text import STOPWORDS

# Thresholds — Gopher Appendix A1, adapted where the published rule names a
# range (single source of truth for Spark AND the SQL oracle generator).
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_ALPHA_FRAC = 0.80
MIN_DISTINCT_STOPWORDS = 2
MAX_TOP_GRAM_FRAC = {1: 0.30, 2: 0.20, 3: 0.18}
MAX_DUP_GRAM_FRAC = {5: 0.15}

TOP_NS = tuple(sorted(MAX_TOP_GRAM_FRAC))
DUP_NS = tuple(sorted(MAX_DUP_GRAM_FRAC))

_ALPHA_RE = "[A-Za-z]"


def _gram_array(n: int) -> str:
    """Spark SQL expression: array of space-joined n-grams over tokens `t`."""
    return (
        f"if(size(t) >= {n}, "
        f"transform(sequence(1, size(t) - {n} + 1), "
        f"i -> concat_ws(' ', slice(t, i, {n}))), "
        f"array())"
    )


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """→ DataFrame(id, n_words, word_chars, mean_word_len, alpha_frac,
    n_stopwords_distinct, top{1,2,3}_frac, dup5_frac, keep): the Gopher
    rule metrics per document plus the conjunctive keep decision. Every
    input document yields exactly one output row (short documents produce
    empty gram sets → zero repetition coverage, not a dropped row)."""
    stop_arr = ", ".join(f"'{w}'" for w in STOPWORDS)
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    # Gram enumeration + the partial count are CPU-bound per scan task; a
    # small corpus arrives as one file split and would otherwise run the
    # whole explode on one core. At real scale the scan already has
    # thousands of splits and this branch never fires (metadata-only
    # check, no job).
    want = df.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < want:
        src = src.repartition(want, "id")
    base = src.select(
        "id",
        F.split(F.trim(F.col("__text")), r"\s+").alias("t"),
    ).select(
        "id",
        "t",
        F.size("t").cast("bigint").alias("n_words"),
        F.length(F.concat_ws("", F.col("t"))).cast("bigint").alias("word_chars"),
        F.expr(
            f"CAST(size(filter(t, w -> w rlike '{_ALPHA_RE}')) AS BIGINT)"
        ).alias("n_alpha"),
        # distinct stopwords present = |stopword_list ∩ t|:
        # array_intersect builds one hash set per row (O(|stop|+|t|))
        # and dedups — value-identical to the old per-stopword
        # array_contains HOF scan (O(|stop|·|t|) interpreted), r16
        F.expr(
            f"CAST(size(array_intersect(array({stop_arr}), t)) AS BIGINT)"
        ).alias("n_stopwords_distinct"),
    )

    gram_cols = [
        F.expr(
            f"transform({_gram_array(n)}, g -> struct({n}L AS n, g AS gram))"
        ).alias(f"g{n}")
        for n in (*TOP_NS, *DUP_NS)
    ]
    grams = base.select(
        "id", F.explode(F.concat(*gram_cols)).alias("gr")
    ).select("id", F.col("gr.n").alias("n"), F.col("gr.gram").alias("gram"))

    cnts = (
        grams.groupBy("id", "n", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("gchars", F.length("gram") - (F.col("n") - F.lit(1)))
    )
    top_aggs = [
        F.max(F.when(F.col("n") == n, F.col("cnt") * F.col("gchars"))).alias(
            f"top{n}_num"
        )
        for n in TOP_NS
    ]
    dup_aggs = [
        F.sum(
            F.when(
                (F.col("n") == n) & (F.col("cnt") >= 2),
                (F.col("cnt") - 1) * F.col("gchars"),
            )
        ).alias(f"dup{n}_num")
        for n in DUP_NS
    ]
    rep = cnts.groupBy("id").agg(*top_aggs, *dup_aggs)

    out = base.drop("t").join(rep, "id", "left")
    wc = F.col("word_chars").cast("double")
    metric_cols = [
        (F.col("word_chars") / F.col("n_words")).alias("mean_word_len"),
        (F.col("n_alpha") / F.col("n_words")).alias("alpha_frac"),
    ]
    for n in TOP_NS:
        metric_cols.append(
            (F.coalesce(F.col(f"top{n}_num"), F.lit(0)) / wc).alias(f"top{n}_frac")
        )
    for n in DUP_NS:
        metric_cols.append(
            (F.coalesce(F.col(f"dup{n}_num"), F.lit(0)) / wc).alias(f"dup{n}_frac")
        )
    out = out.select(
        "id", "n_words", "word_chars", "n_stopwords_distinct", *metric_cols
    )

    keep = (
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_words") <= MAX_WORDS)
        & (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= MAX_MEAN_WORD_LEN)
        & (F.col("alpha_frac") >= MIN_ALPHA_FRAC)
        & (F.col("n_stopwords_distinct") >= MIN_DISTINCT_STOPWORDS)
    )
    for n in TOP_NS:
        keep = keep & (F.col(f"top{n}_frac") <= MAX_TOP_GRAM_FRAC[n])
    for n in DUP_NS:
        keep = keep & (F.col(f"dup{n}_frac") <= MAX_DUP_GRAM_FRAC[n])
    return out.withColumn("keep", keep)


def repetition_metrics_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB CTE replaying :func:`repetition_metrics` arithmetic exactly;
    yields a relation named ``gopher`` with the identical columns."""
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    gram_selects = []
    for n in (*TOP_NS, *DUP_NS):
        gram_selects.append(
            f"SELECT id, {n} AS n, unnest(list_transform("
            f"range(1, greatest(len(t) - {n} + 1, 0) + 1), "
            f"i -> array_to_string(t[i:i+{n}-1], ' '))) AS gram FROM g_base"
        )
    top_cols = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN cnt * gchars END) AS top{n}_num"
        for n in TOP_NS
    )
    dup_cols = ", ".join(
        f"SUM(CASE WHEN n = {n} AND cnt >= 2 THEN (cnt - 1) * gchars END)"
        f" AS dup{n}_num"
        for n in DUP_NS
    )
    top_fracs = ", ".join(
        f"COALESCE(top{n}_num, 0) / CAST(word_chars AS DOUBLE) AS top{n}_frac"
        for n in TOP_NS
    )
    dup_fracs = ", ".join(
        f"COALESCE(dup{n}_num, 0) / CAST(word_chars AS DOUBLE) AS dup{n}_frac"
        for n in DUP_NS
    )
    keep_parts = [
        f"n_words >= {MIN_WORDS}",
        f"n_words <= {MAX_WORDS}",
        f"mean_word_len >= {MIN_MEAN_WORD_LEN}",
        f"mean_word_len <= {MAX_MEAN_WORD_LEN}",
        f"alpha_frac >= {MIN_ALPHA_FRAC}",
        f"n_stopwords_distinct >= {MIN_DISTINCT_STOPWORDS}",
    ]
    keep_parts += [f"top{n}_frac <= {MAX_TOP_GRAM_FRAC[n]}" for n in TOP_NS]
    keep_parts += [f"dup{n}_frac <= {MAX_DUP_GRAM_FRAC[n]}" for n in DUP_NS]
    keep_expr = " AND ".join(keep_parts)
    return f"""
    g_base AS (
      SELECT {id_col} AS id, string_split_regex(trim({text_col}), '\\s+') AS t
      FROM {table}
    ),
    g_scalar AS (
      SELECT id,
             CAST(len(t) AS BIGINT) AS n_words,
             CAST(length(array_to_string(t, '')) AS BIGINT) AS word_chars,
             CAST(len(list_filter(t, w -> regexp_matches(w, '{_ALPHA_RE}')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_filter([{stop_list}], s -> list_contains(t, s)))
                  AS BIGINT) AS n_stopwords_distinct
      FROM g_base
    ),
    g_grams AS ({' UNION ALL '.join(gram_selects)}),
    g_cnts AS (
      SELECT id, n, gram, length(gram) - (n - 1) AS gchars,
             COUNT(*) AS cnt
      FROM g_grams GROUP BY id, n, gram
    ),
    g_rep AS (
      SELECT id, {top_cols}, {dup_cols} FROM g_cnts GROUP BY id
    ),
    g_frac AS (
      SELECT s.id, s.n_words, s.word_chars, s.n_stopwords_distinct,
             s.word_chars / CAST(s.n_words AS DOUBLE) AS mean_word_len,
             s.n_alpha / CAST(s.n_words AS DOUBLE) AS alpha_frac,
             {top_fracs}, {dup_fracs}
      FROM g_scalar s LEFT JOIN g_rep r ON s.id = r.id
    ),
    gopher AS (
      SELECT *, ({keep_expr}) AS keep FROM g_frac
    )
    """
