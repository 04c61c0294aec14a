"""Unigram-LM (SentencePiece-style) subword tokenizer — Kudo 2018,
"Subword Regularization: Improving Neural Network Translation Models
with Multiple Subword Candidates" (the unigram language model of
SentencePiece; the second of the two tokenizer families production
pipelines use, beside BPE — operators/bpe.py).

Algorithm (the deterministic hard-EM / Viterbi-EM variant — Kudo §3.2
with the E-step's expectation replaced by the single best segmentation,
a recognized simplification that keeps every intermediate REPLAYABLE):

1. SEED: the piece inventory is every substring of length ≤ ``lmax``
   of the distinct-word table, scored by corpus frequency; single
   characters are always kept (coverage), multi-char pieces need
   ``min_count``. Initial log-probs: round(ln(freq / Σfreq), 6dp).
2. E-STEP (per round): Viterbi-segment every DISTINCT word under the
   current piece log-probs — a bounded dynamic program over word
   positions (≤ MAXLEN, loud refusal beyond), every DP cell 6dp-rounded,
   ties broken (best score, then LONGEST last piece). Implemented as
   TWO column-expression folds (forward DP + backtrack) — no UDF, no
   join per position; the DuckDB twin unrolls the same DP as one CTE
   per position with identical rounding and tie order.
3. M-STEP + PRUNE: piece counts = Σ word_count × Viterbi uses; unused
   multi-char pieces are PRUNED (the EM-based pruning), unused single
   chars keep a count floor of 1 (coverage); new log-probs re-normalize
   with the same 6dp round.

State is one row per DISTINCT word (the BPE reduction — never the
corpus); the piece table broadcasts as a map. Per round: one projection
pass over the distinct words + one piece-keyed count agg. The corpus is
touched only by the initial distinct-word aggregation.

Reference comparison: n/a (no tokenizer surface in the reference).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.operators._itergc import (
    release_iteration_garbage as _release_iteration_garbage,
)

UNI_DP = 6
MAXLEN = 12  # loud-refusal bound on word length (DP unroll depth)
NEG = -1000000000.0  # "piece absent" sentinel (never on a viable path)


def distinct_words(df: DataFrame, text_col: str) -> DataFrame:
    """corpus → (word, n): the distinct-word reduction (whitespace
    split, like bpe.learn_bpe_merges)."""
    return (
        df.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def seed_vocab(
    words: DataFrame, lmax: int = 4, min_count: int = 2
) -> DataFrame:
    """(word, n) → (piece, logp): the seed piece inventory. Every
    substring occurrence counts (a word contributes its count once per
    occurrence position); single chars always kept."""
    subs = (
        words.select(
            "word",
            "n",
            F.explode(
                F.sequence(F.lit(1), F.length("word"))
            ).alias("i"),
        )
        .select(
            "word",
            "n",
            "i",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(lmax), F.length("word") - F.col("i") + 1),
                )
            ).alias("l"),
        )
        .select(
            F.substring(F.col("word"), F.col("i"), F.col("l")).alias("piece"),
            "n",
        )
    )
    freq = subs.groupBy("piece").agg(F.sum("n").alias("freq"))
    kept = freq.where(
        (F.length("piece") == 1) | (F.col("freq") >= min_count)
    )
    tot = kept.agg(F.sum("freq").alias("tot"))
    return kept.crossJoin(F.broadcast(tot)).select(
        "piece",
        F.round(
            F.log(F.col("freq").cast("double") / F.col("tot")), UNI_DP
        ).alias("logp"),
    )


def _vocab_map(vocab: DataFrame) -> DataFrame:
    """(piece, logp) → 1-row (pm map<string,double>) for broadcast."""
    return vocab.agg(
        F.map_from_entries(F.collect_list(F.struct("piece", "logp"))).alias(
            "pm"
        )
    )


def viterbi_segment(words: DataFrame, vocab: DataFrame) -> DataFrame:
    """(word, n) × (piece, logp) → (word, n, pieces array<string>,
    score double): the best segmentation of each distinct word under
    the unigram LM. Forward DP then backtrack, both as bounded column
    folds; every DP cell round(prev + logp, 6dp); ties → longest last
    piece (smallest split point). Unknown pieces score NEG (single
    chars are always in the vocab, so a path always exists)."""
    wm = words.crossJoin(F.broadcast(_vocab_map(vocab)))
    wlen = F.length("word")

    def dp_step(acc, i):
        # candidate split points j ∈ [max(0, i-4), i-1] — 1-based pos i
        cands = F.transform(
            F.sequence(F.greatest(F.lit(0), i - MAXLEN_LMAX), i - 1),
            lambda j: F.struct(
                F.round(
                    F.element_at(acc, (j + 1).cast("int"))["score"]
                    + F.coalesce(
                        F.element_at(
                            F.col("pm"),
                            F.substring(
                                F.col("word"),
                                (j + 1).cast("int"),
                                (i - j).cast("int"),
                            ),
                        ),
                        F.lit(NEG),
                    ),
                    UNI_DP,
                ).alias("score"),
                (-j).cast("int").alias("mj"),
                j.cast("int").alias("j"),
            ),
        )
        best = F.array_max(cands)
        cell = F.when(
            i <= wlen,
            F.struct(
                best["score"].alias("score"), best["j"].alias("j")
            ),
        ).otherwise(
            F.struct(F.lit(NEG).alias("score"), F.lit(-1).alias("j"))
        )
        return F.concat(acc, F.array(cell))

    init = F.array(F.struct(F.lit(0.0).alias("score"), F.lit(-1).alias("j")))
    dp = F.aggregate(
        F.sequence(F.lit(1), F.lit(MAXLEN)), init, dp_step
    )
    scored = wm.select(
        "word", "n", dp.alias("dp"), wlen.alias("wl")
    )

    def bt_step(acc, _):
        pos = acc["pos"]
        j = F.element_at(F.col("dp"), (pos + 1).cast("int"))["j"]
        piece = F.substring(
            F.col("word"), (j + 1).cast("int"), (pos - j).cast("int")
        )
        return F.when(
            pos > 0,
            F.struct(
                j.alias("pos"),
                F.concat(F.array(piece), acc["pieces"]).alias("pieces"),
            ),
        ).otherwise(acc)

    bt_init = F.struct(
        F.col("wl").alias("pos"),
        F.array().cast("array<string>").alias("pieces"),
    )
    bt = F.aggregate(
        F.sequence(F.lit(1), F.lit(MAXLEN)), bt_init, bt_step
    )
    return scored.select(
        "word",
        "n",
        bt["pieces"].alias("pieces"),
        F.element_at(F.col("dp"), (F.col("wl") + 1).cast("int"))[
            "score"
        ].alias("score"),
    )


MAXLEN_LMAX = 4  # max piece length (the DP looks back this far)


def unigram_train(
    df: DataFrame,
    text_col: str,
    rounds: int = 2,
    lmax: int = 4,
    min_count: int = 2,
    words: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train the unigram LM with ``rounds`` hard-EM rounds → (vocab,
    stats): ``vocab`` is the final (piece, logp) table; ``stats`` has
    one row per round — (round, vocab_size, total_tokens, corpus_ll,
    seg_md5), where corpus_ll uses the ×10⁶-BIGINT exact sum of the
    per-word 6dp Viterbi scores and seg_md5 hashes every word's
    segmentation (the cross-engine certificate). Words longer than
    MAXLEN refuse loudly (the DP unroll bound — raise, never silently
    truncate). ``words``: optionally the precomputed distinct-word
    table (checkpointed), saving the one corpus-sized aggregation."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if lmax != MAXLEN_LMAX:
        raise ValueError(f"lmax is fixed at {MAXLEN_LMAX} (the DP lookback)")
    # callers that already hold the distinct-word table pass it in
    # (r11 review fix: the serving query paid the corpus agg twice)
    if words is None:
        words = distinct_words(df, text_col).localCheckpoint(eager=True)
    over = words.agg(F.max(F.length("word")).alias("m")).collect()[0]["m"]
    if over is None:
        raise ValueError("unigram_train: empty corpus")
    if over > MAXLEN:
        raise ValueError(
            f"unigram_train: a word of length {over} exceeds the DP bound "
            f"{MAXLEN} — pre-split long words upstream (no silent truncation)"
        )
    vocab = seed_vocab(words, lmax=lmax, min_count=min_count).localCheckpoint(
        eager=True
    )
    spark = df.sparkSession
    stats_rounds = []
    for r in range(1, rounds + 1):
        seg = viterbi_segment(words, vocab).localCheckpoint(eager=True)
        vsize = vocab.agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab_size")
        )
        ll6 = F.round(F.col("score") * 1_000_000).cast("bigint")
        st = seg.agg(
            F.sum(F.col("n") * F.size("pieces"))
            .cast("bigint")
            .alias("total_tokens"),
            F.round(
                F.sum(F.col("n") * ll6) / F.lit(1_000_000.0), UNI_DP
            ).alias("corpus_ll"),
            # sort by WORD (unique), not the concatenated string — a
            # word that prefixes another could otherwise order
            # differently than the oracle's ORDER BY word
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("word").alias("w"),
                                    F.concat_ws(
                                        "=",
                                        F.col("word"),
                                        F.array_join("pieces", "+"),
                                    ).alias("s"),
                                )
                            )
                        ),
                        lambda st: st["s"],
                    ),
                    "|",
                )
            ).alias("seg_md5"),
        )
        stats_rounds.append(
            spark.range(1)
            .select(F.lit(r).alias("round"))
            .crossJoin(F.broadcast(vsize))
            .crossJoin(F.broadcast(st))
        )
        if r < rounds:
            # M-step + prune: counts from this round's segmentations
            cnt = (
                seg.select(F.explode("pieces").alias("piece"), "n")
                .groupBy("piece")
                .agg(F.sum("n").alias("cnt"))
            )
            merged = vocab.join(cnt, "piece", "left").where(
                F.col("cnt").isNotNull() | (F.length("piece") == 1)
            )
            counted = merged.select(
                "piece",
                F.coalesce(F.col("cnt"), F.lit(1)).alias("cnt"),
            )
            tot = counted.agg(F.sum("cnt").alias("tot"))
            vocab = (
                counted.crossJoin(F.broadcast(tot))
                .select(
                    "piece",
                    F.round(
                        F.log(F.col("cnt").cast("double") / F.col("tot")),
                        UNI_DP,
                    ).alias("logp"),
                )
                .localCheckpoint(eager=True)
            )
    stats = stats_rounds[0]
    for s in stats_rounds[1:]:
        stats = stats.unionByName(s)
    # release superseded per-round seg/vocab checkpoint blocks (BENCH_r12:
    # leaked trainer garbage drifted LATER session queries 2x; the final
    # vocab checkpoint stays referenced and is untouched)
    _release_iteration_garbage(vocab)
    return vocab, stats


def _unigram_parts(
    rounds: int = 2, lmax: int = 4, min_count: int = 2
) -> list[str]:
    """Shared CTE parts for the unigram twins: seeding, every DP cell of
    every Viterbi round (one CTE per word position, same 6dp round and
    score-DESC/j-ASC tie order), the backtrack walk, the M-step
    counts/prune/renormalize, and per-round ``u{r}stats`` relations."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if lmax != MAXLEN_LMAX:
        raise ValueError(f"lmax is fixed at {MAXLEN_LMAX}")
    parts = [
        """uni_words AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS word
        FROM documents
      ) WHERE word <> '' GROUP BY word
    )""",
        f"""uni_k0 AS MATERIALIZED (
      SELECT piece, freq FROM (
        SELECT piece, SUM(n) AS freq FROM (
          SELECT substring(w.word, i.i, l.l) AS piece, w.n
          FROM uni_words w,
               UNNEST(range(1, LENGTH(w.word) + 1)) AS i(i),
               UNNEST(range(1, LEAST({lmax}, LENGTH(w.word) - i.i + 1) + 1))
                 AS l(l)
        ) GROUP BY piece
      ) WHERE LENGTH(piece) = 1 OR freq >= {min_count}
    )""",
        f"""uni_v1 AS MATERIALIZED (
      SELECT piece, ROUND(ln(CAST(freq AS DOUBLE) /
               (SELECT CAST(SUM(freq) AS DOUBLE) FROM uni_k0)), {UNI_DP})
             AS logp
      FROM uni_k0
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""u{r}p0 AS MATERIALIZED (
      SELECT word, 0.0 AS score, -1 AS j FROM uni_words
    )"""
        )
        for i in range(1, MAXLEN + 1):
            cands = "\n      UNION ALL\n      ".join(
                f"""SELECT w.word,
             ROUND(v.score + COALESCE(p.logp, {NEG}), {UNI_DP}) AS score,
             {j} AS j
      FROM uni_words w
      JOIN u{r}p{j} v USING (word)
      LEFT JOIN uni_v{r} p
        ON p.piece = substring(w.word, {j} + 1, {i - j})
      WHERE LENGTH(w.word) >= {i}"""
                for j in range(max(0, i - MAXLEN_LMAX), i)
            )
            parts.append(
                f"""u{r}p{i} AS MATERIALIZED (
      SELECT word, score, j FROM (
        SELECT word, score, j,
               row_number() OVER (PARTITION BY word
                                  ORDER BY score DESC, j) AS rn
        FROM (
      {cands}
        )
      ) WHERE rn = 1
    )"""
            )
        pa_union = " UNION ALL ".join(
            f"SELECT word, {i} AS i, score, j FROM u{r}p{i}"
            for i in range(1, MAXLEN + 1)
        )
        parts.append(f"u{r}pa AS MATERIALIZED ({pa_union})")
        parts.append(
            f"""u{r}b0 AS MATERIALIZED (
      SELECT word, LENGTH(word) AS pos, CAST(NULL AS VARCHAR) AS piece,
             0 AS t
      FROM uni_words
    )"""
        )
        for t in range(1, MAXLEN + 1):
            parts.append(
                f"""u{r}b{t} AS MATERIALIZED (
      SELECT b.word, v.j AS pos,
             substring(b.word, v.j + 1, b.pos - v.j) AS piece, {t} AS t
      FROM u{r}b{t - 1} b JOIN u{r}pa v ON v.word = b.word AND v.i = b.pos
      WHERE b.pos > 0
    )"""
            )
        seg_union = " UNION ALL ".join(
            f"SELECT word, piece, t FROM u{r}b{t}"
            for t in range(1, MAXLEN + 1)
        )
        parts.append(f"u{r}seg AS MATERIALIZED ({seg_union})")
        parts.append(
            f"""u{r}segs AS MATERIALIZED (
      SELECT word, string_agg(piece, '+' ORDER BY t DESC) AS seg,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM u{r}seg GROUP BY word
    )"""
        )
        parts.append(
            f"""u{r}sc AS MATERIALIZED (
      SELECT w.word, w.n, v.score
      FROM uni_words w JOIN u{r}pa v
        ON v.word = w.word AND v.i = LENGTH(w.word)
    )"""
        )
        parts.append(
            f"""u{r}stats AS (
      SELECT {r} AS round,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM uni_v{r}) AS vocab_size,
             CAST(SUM(w.n * s.np) AS BIGINT) AS total_tokens,
             ROUND(SUM(w.n * CAST(ROUND(sc.score * 1000000) AS BIGINT))
                   / 1000000.0, {UNI_DP}) AS corpus_ll,
             md5(string_agg(w.word || '=' || s.seg, '|' ORDER BY w.word))
               AS seg_md5
      FROM uni_words w
      JOIN u{r}segs s USING (word)
      JOIN u{r}sc sc USING (word)
    )"""
        )
        if r < rounds:
            parts.append(
                f"""uni_c{r} AS MATERIALIZED (
      SELECT s.piece, SUM(w.n) AS cnt
      FROM u{r}seg s JOIN uni_words w USING (word)
      GROUP BY s.piece
    )"""
            )
            parts.append(
                f"""uni_m{r} AS MATERIALIZED (
      SELECT v.piece, COALESCE(c.cnt, 1) AS cnt
      FROM uni_v{r} v LEFT JOIN uni_c{r} c USING (piece)
      WHERE c.cnt IS NOT NULL OR LENGTH(v.piece) = 1
    )"""
            )
            parts.append(
                f"""uni_v{r + 1} AS MATERIALIZED (
      SELECT piece, ROUND(ln(CAST(cnt AS DOUBLE) /
               (SELECT CAST(SUM(cnt) AS DOUBLE) FROM uni_m{r})), {UNI_DP})
             AS logp
      FROM uni_m{r}
    )"""
            )
    return parts


def unigram_oracle_sql(
    rounds: int = 2, lmax: int = 4, min_count: int = 2
) -> str:
    """DuckDB twin of :func:`unigram_train`'s stats output over the
    ``documents`` view: one row per EM round — (round, vocab_size,
    total_tokens, corpus_ll, seg_md5), ORDER BY round."""
    parts = _unigram_parts(rounds, lmax, min_count)
    final = " UNION ALL ".join(
        f"SELECT * FROM u{r}stats" for r in range(1, rounds + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"\n    {final}\n    ORDER BY round"
    )


def unigram_apply_sql(
    rounds: int = 2, lmax: int = 4, min_count: int = 2
) -> str:
    """DuckDB twin of the SERVING path: tokenize every document with
    the final trained vocab (the last round's Viterbi segmentations,
    joined back to the corpus word stream) → (doc_id, n_words,
    n_tokens, tokens_md5) per document, ORDER BY doc_id. tokens_md5
    hashes the document's full piece sequence in word order."""
    parts = _unigram_parts(rounds, lmax, min_count)
    parts.append(
        r"""uni_docw AS MATERIALIZED (
      SELECT doc_id, i, word FROM (
        SELECT doc_id,
               UNNEST(string_split_regex(trim(text), '\s+')) AS word,
               UNNEST(range(1, len(string_split_regex(trim(text), '\s+'))
                            + 1)) AS i
        FROM documents
      ) WHERE word <> ''
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(s.np) AS BIGINT) AS n_tokens,
           md5(string_agg(s.seg, ' ' ORDER BY d.i)) AS tokens_md5
    FROM uni_docw d JOIN u{rounds}segs s USING (word)
    GROUP BY d.doc_id ORDER BY d.doc_id"""
    )
