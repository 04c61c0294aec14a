"""BPE merge learning over a corpus (engine tier — LLM tokenizer prep).

Byte-pair-encoding tokenizer TRAINING (Sennrich et al. 2016, ACL —
"Neural Machine Translation of Rare Words with Subword Units"): start
from characters, repeatedly merge the most frequent adjacent symbol
pair. This implements the merge-learning loop as an iterative DataFrame
computation: each round is one corpus-wide pair-count aggregation (the
scan-shaped heavy step), a 1-row argmax collect (the only driver
traffic, K rows total for K merges), and one pure-expression merge
application.

Symbol-boundary trick (what makes the merge a plain string replace that
DuckDB reproduces byte-for-byte): the symbol sequence is stored with
every symbol WRAPPED in a sentinel char, ``␟a␟␟b␟`` style. A pair
pattern ``␟a␟␟b␟`` then cannot match inside another symbol (``␟ba␟``
contains no ``␟a␟``), and adjacent occurrences share no characters, so
non-overlapping left-to-right replacement — the semantics both Spark's
``replace`` and DuckDB's ``replace`` implement — applies the merge
greedily exactly like the reference BPE algorithm.

Scale shape: state is one row per DISTINCT word (with its corpus
count), NOT per token occurrence — the standard BPE-training reduction;
each round shuffles pair counts (bounded by the distinct-pair
vocabulary), never the corpus. The K-round driver loop collects K
single rows; at 100 TB the per-round cost is the distinct-word scan,
embarrassingly parallel.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.operators._itergc import (
    release_iteration_garbage as _release_iteration_garbage,
)

SEP = "\x1f"  # unit separator — never appears in text tokens


def wrap_word(col):
    """word → wrapped character-symbol sequence: 'ab' → '␟a␟␟b␟'."""
    return F.concat(
        F.lit(SEP),
        F.array_join(F.split(col, ""), SEP + SEP),
        F.lit(SEP),
    )


def _symbols(col):
    """wrapped sequence → array of symbols."""
    return F.split(F.expr(f"trim(BOTH '{SEP}' FROM {col})"), SEP + SEP)


def learn_bpe_merges(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    min_pair_count: int = 2,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns (merges, final_words): ``merges`` is a list of
    (round, left_symbol, right_symbol, pair_count) in learned order;
    ``final_words`` is the distinct-word DataFrame (word, n, syms) after
    all merges, ``syms`` being the wrapped symbol string. Ties break
    lexicographically on (left, right) — deterministic across engines.
    Stops early when no pair reaches ``min_pair_count``.
    """
    words = (
        df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        # scrub the sentinel char from input words — a text containing
        # \x1f would otherwise silently corrupt the wrapped-symbol
        # encoding (the oracle twin scrubs identically)
        .withColumn("word", F.translate("word", SEP, ""))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("syms", wrap_word(F.col("word")))
    )
    # One row per distinct word for the whole loop — persist once, fold
    # merges as narrow projections, checkpoint to keep the plan flat.
    words = words.localCheckpoint()

    merges: list[tuple[int, str, str, int]] = []
    for rnd in range(1, n_merges + 1):
        pairs = (
            words.withColumn("__arr", _symbols("syms"))
            .select(
                "n",
                F.explode(
                    # guard: sequence(1, 0) is DESCENDING in Spark, not
                    # empty — single-symbol words must yield no pairs
                    F.expr(
                        "CASE WHEN size(__arr) < 2 THEN array() "
                        "ELSE transform(sequence(1, size(__arr) - 1), "
                        "i -> struct(__arr[i - 1] as a, __arr[i] as b)) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1).collect()
        )
        if not best or best[0]["cnt"] < min_pair_count:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rnd, a, b, cnt))
        pat = f"{SEP}{a}{SEP}{SEP}{b}{SEP}"
        rep = f"{SEP}{a}{b}{SEP}"
        words = words.withColumn(
            "syms", F.replace(F.col("syms"), F.lit(pat), F.lit(rep))
        ).localCheckpoint()
    _release_iteration_garbage(words)
    return merges, words


def learn_bpe_merges_batched(
    df: DataFrame,
    text_col: str,
    n_merges: int = 6,
    min_pair_count: int = 2,
    scan: int = 32,
    exact: bool = True,
) -> tuple[list[tuple[int, str, str, int]], DataFrame, int]:
    """Learn ``n_merges`` BPE merges with BATCHED rounds — EXACTLY the
    sequential :func:`learn_bpe_merges` trajectory, in far fewer Spark
    jobs (r12 VERDICT missing #1: one job per merge means a 32k-merge
    production vocabulary is 32k sequential driver round-trips).

    Returns (merges, final_words, rounds_used): ``merges`` is the same
    (round, left_symbol, right_symbol, pair_count) list the sequential
    learner produces — byte-identical, count-identical, order-identical
    — and ``rounds_used`` counts the Spark pair-count jobs actually run
    (≤ len(merges); the batching win is merges/rounds_used).

    Per round: ONE pair-count aggregation, ONE ``scan``-row ranked
    collect (vs the sequential top-1), then a driver-side greedy walk
    accepts a prefix of provably-independent merges and applies them in
    one projection. The acceptance rule is exact, not heuristic — each
    accepted merge is the true argmax of the count table sequential
    would have seen at its turn:

    - **Input-disjoint**: an accepted pair's symbols may not intersect
      any earlier accepted pair's symbols. Merging (a,b) can only
      change counts of pairs touching a or b (occurrences elsewhere are
      untouched), so disjoint accepted pairs keep their exact counts.
    - **No result collisions**: the merged string a||b must not equal
      an existing symbol or another accepted result. Every multi-char
      symbol was created by a previous merge, so the existing-symbol
      check is a driver-side set lookup against the learned-merge
      results — no extra job. (A collision would let a merge INCREASE
      another pair's count, breaking the cap argument below.)
    - **Strict count cap**: let T = max count among (i) the first
      scanned pair rejected by the rules above and (ii) the last
      scanned row when the scan may have truncated the ranked list
      (unscanned pairs all count ≤ it). Only accepted pairs with
      count > T are kept. Pairs touching an accepted symbol are
      non-accepted (disjointness), hence count ≤ T; pairs a merge
      CREATES, (x, ab) / (ab, y), inherit count ≤ the old (x, a) /
      (b, y) — also touching, also ≤ T. So everything a kept merge
      could have perturbed sits STRICTLY below every kept count, and
      by induction each kept pair is sequential's exact (count DESC,
      left, right) argmax at its turn, at its exact batch-time count.
    - **Fallback**: if the cap empties the batch, the rank-1 pair alone
      is kept — a batch of one IS the sequential step, so progress is
      guaranteed and the worst case degrades to the sequential learner.

    ``exact=False`` — GREEDY batch mode, the classic batched-BPE
    trade: accept EVERY scanned input-disjoint, collision-free pair (no
    count cap, no self-pair cutoff). The trajectory may then deviate
    from sequential's where top pairs interact through counts — it is
    still deterministic, still a valid BPE merge order, and EQUAL to
    sequential whenever no scanned pair conflicts (pinned by test); the
    job count drops by ~the scan width on natural text, which is what a
    32k-merge production vocabulary needs. Measured on the sf0.01/0.1
    documents corpora (tools/scale_probe_bpe_batched.py): exact mode
    batches little at depth (English char bigrams share 'e','t','a' at
    the top — counts genuinely interact, mean batch ~1.1-1.2, wall still
    1.3-2x from amortized checkpoints), greedy mode batches near the
    scan width.

    Scale shape: identical per-round plan to the sequential learner
    (distinct-word scan → bounded pair-count shuffle); the collect grows
    from 1 row to ``scan`` rows (driver-trivial).
    """
    if scan < 2:
        raise ValueError("scan must be >= 2")
    words = (
        df.select(F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word"))
        .withColumn("word", F.translate("word", SEP, ""))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("syms", wrap_word(F.col("word")))
    )
    words = words.localCheckpoint()

    merges: list[tuple[int, str, str, int]] = []
    created: set[str] = set()  # every multi-char symbol in the table
    rounds_used = 0
    while len(merges) < n_merges:
        pairs = (
            words.withColumn("__arr", _symbols("syms"))
            .select(
                "n",
                F.explode(
                    F.expr(
                        "CASE WHEN size(__arr) < 2 THEN array() "
                        "ELSE transform(sequence(1, size(__arr) - 1), "
                        "i -> struct(__arr[i - 1] as a, __arr[i] as b)) END"
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("n").alias("cnt"))
        )
        rows = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(scan)
            .collect()
        )
        rounds_used += 1
        eligible = [r for r in rows if r["cnt"] >= min_pair_count]
        if not eligible:
            break
        accepted: list = []
        acc_syms: set[str] = set()
        acc_results: set[str] = set()
        caps: list[int] = []
        for i, r in enumerate(eligible):
            a, b = r["a"], r["b"]
            res = a + b
            if (
                a in acc_syms
                or b in acc_syms
                or res in created
                or res in acc_results
            ):
                if not exact:
                    continue  # greedy mode: skip, keep scanning
                caps.append(int(r["cnt"]))  # first conflict caps the batch
                break
            accepted.append(r)
            acc_syms.update((a, b))
            acc_results.add(res)
            if exact and a == b:
                # a SELF-pair closes the batch: merging (a,a) creates
                # (aa,aa) adjacencies whose count is bounded only by
                # cnt(a,a) itself — the one created-pair shape the strict
                # cap cannot dominate ("aaaa aaaa": (aa,aa) inherits 1
                # per word, up to the accepted count). Later candidates
                # must face next round's real recount — and the unwalked
                # remainder of the scan still caps the batch (a touching
                # pair hiding there would otherwise escape the strictness
                # argument).
                if i + 1 < len(eligible):
                    caps.append(int(eligible[i + 1]["cnt"]))
                break
        if exact and len(rows) == scan:
            # the ranked list may continue past the scan horizon; every
            # unscanned pair counts <= the last scanned row
            caps.append(int(rows[-1]["cnt"]))
        cap = max(caps) if caps else -1
        # termination guard (theoretical): if EVERY scanned pair collided
        # with a created symbol (exact mode: rank-1's result collides;
        # greedy mode: all scanned collide), `accepted` is empty and an
        # empty batch would re-run the identical recount forever. Fall
        # back to merging the rank-1 pair outright — exactly what the
        # sequential learner (which has no collision guard) does — so a
        # round ALWAYS applies at least one merge.
        batch = (
            [r for r in accepted if r["cnt"] > cap]
            or accepted[:1]
            or eligible[:1]
        )
        batch = batch[: n_merges - len(merges)]
        syms_col = F.col("syms")
        for r in batch:
            a, b, cnt = r["a"], r["b"], int(r["cnt"])
            merges.append((len(merges) + 1, a, b, cnt))
            created.add(a + b)
            syms_col = F.replace(
                syms_col,
                F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"),
                F.lit(f"{SEP}{a}{b}{SEP}"),
            )
        # no early exit on a drained scan: applying a batch can CREATE
        # pairs above min_pair_count ((x, ab) / (ab, y) adjacencies), so
        # only the next round's recount can prove the corpus is done —
        # same stop condition as the sequential learner
        words = words.withColumn("syms", syms_col).localCheckpoint()
    _release_iteration_garbage(words)
    return merges, words, rounds_used


def apply_bpe_merges(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Tokenize text with a FROZEN ordered merge list — the production
    encode path (train once on a sample, tokenize the stream forever;
    the pq_encode of the tokenizer world). → DataFrame(doc_id, n_words,
    n_tokens, syms_md5): per document, every word is sentinel-wrapped
    (wrap_word) and each merge applies in learned order as one plain
    string replace over the whole document (words join with a space,
    which contains no sentinel, so a pair pattern can never span a word
    boundary; the sentinel-wrap argument in the module docstring gives
    exact greedy-left-to-right BPE semantics). n_tokens counts final
    symbols (words + intra-word separators); syms_md5 digests the exact
    final symbol string, so ANY mis-applied merge on any word changes
    it — the certification column.

    Scale shape: one pure-expression projection over the corpus — no
    shuffle at all; ``merges`` is a driver-side list (K entries, the
    trained artifact) folded into the expression tree."""
    words = F.filter(
        F.transform(
            F.split(F.trim(F.col(text_col)), r"\s+"),
            lambda w: F.translate(w, SEP, ""),
        ),
        lambda w: w != "",
    )
    syms = F.array_join(
        F.transform(
            words,
            lambda w: F.concat(
                F.lit(SEP),
                F.array_join(F.split(w, ""), SEP + SEP),
                F.lit(SEP),
            ),
        ),
        " ",
    )
    for a, b in merges:
        syms = F.replace(
            syms,
            F.lit(f"{SEP}{a}{SEP}{SEP}{b}{SEP}"),
            F.lit(f"{SEP}{a}{b}{SEP}"),
        )
    n_words = F.size(words).cast("bigint")
    intra = (
        (F.length(syms) - F.length(F.replace(syms, F.lit(SEP + SEP), F.lit(""))))
        / 2
    ).cast("bigint")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_words.alias("n_words"),
        (n_words + intra).alias("n_tokens"),
        F.md5(syms).alias("syms_md5"),
    )


def bpe_apply_sql(n_merges: int = 6, min_pair_count: int = 2) -> str:
    """DuckDB twin of learn (bpe_oracle_sql's unrolled stages) + APPLY
    (:func:`apply_bpe_merges`) over the ``documents`` view: the learned
    b{r} relations feed per-round scalar-subquery replaces over each
    document's wrapped symbol string. Yields (doc_id, n_words, n_tokens,
    syms_md5) — byte-identical strings, so the md5 matches exactly."""
    sep = SEP
    base = bpe_oracle_sql(n_merges, min_pair_count)
    ctes = base.split("\n    SELECT ")[0]  # learning chain, swap the SELECT
    parts = [
        ctes,
        f"""
    d0 AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             array_to_string(
               list_transform(ws, w ->
                 '{sep}' || array_to_string(
                   list_transform(range(1, LENGTH(w) + 1),
                                  i -> substring(w, i, 1)),
                   '{sep}{sep}') || '{sep}'),
               ' ') AS s
      FROM (
        SELECT doc_id,
               list_filter(
                 list_transform(string_split_regex(trim(text), '\\s+'),
                                w -> replace(w, chr(31), '')),
                 w -> w <> '') AS ws
        FROM documents
      )
    )""",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"""
    d{r} AS (
      SELECT doc_id, n_words,
             CASE WHEN EXISTS (SELECT 1 FROM b{r})
                  THEN replace(s,
                       '{sep}' || (SELECT a FROM b{r}) || '{sep}{sep}'
                               || (SELECT b FROM b{r}) || '{sep}',
                       '{sep}' || (SELECT a FROM b{r})
                               || (SELECT b FROM b{r}) || '{sep}')
                  ELSE s END AS s
      FROM d{r - 1}
    )"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT doc_id, n_words,
           n_words + (LENGTH(s) - LENGTH(replace(s, '{sep}{sep}', ''))) // 2
             AS n_tokens,
           md5(s) AS syms_md5
    FROM d{n_merges}
    ORDER BY doc_id"""
    )


def bpe_oracle_sql(n_merges: int = 6, min_pair_count: int = 2) -> str:
    """DuckDB twin of :func:`learn_bpe_merges` over the ``documents``
    view: ``n_merges`` unrolled stages, each = pair-count aggregate +
    deterministic argmax + wrapped-string replace — byte-identical merge
    application by the sentinel-wrap argument in the module docstring.
    Returns rows (round, left_sym, right_sym, pair_count)."""
    sep = SEP
    parts = [
        f"""
    w0 AS MATERIALIZED (
      SELECT word, COUNT(*) AS n,
             '{sep}' || array_to_string(
                 list_transform(range(1, LENGTH(word) + 1),
                                i -> substring(word, i, 1)),
                 '{sep}{sep}') || '{sep}' AS syms
      FROM (
        SELECT replace(UNNEST(string_split_regex(trim(text), '\\s+')),
                       chr(31), '') AS word
        FROM documents
      )
      WHERE word <> ''
      GROUP BY word
    )"""
    ]
    selects = []
    for r in range(1, n_merges + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""
    p{r} AS MATERIALIZED (
      SELECT sy[u.i] AS a, sy[u.i + 1] AS b, SUM(n) AS cnt
      FROM (SELECT n, string_split(trim(BOTH '{sep}' FROM syms),
                                   '{sep}{sep}') AS sy FROM {prev}),
           UNNEST(range(1, len(sy))) AS u(i)
      GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
      SELECT a, b, cnt FROM p{r}
      WHERE cnt >= {min_pair_count}
      ORDER BY cnt DESC, a, b LIMIT 1
    ),
    w{r} AS MATERIALIZED (
      SELECT w.word, w.n,
             CASE WHEN EXISTS (SELECT 1 FROM b{r})
                  THEN replace(w.syms,
                       '{sep}' || (SELECT a FROM b{r}) || '{sep}{sep}'
                               || (SELECT b FROM b{r}) || '{sep}',
                       '{sep}' || (SELECT a FROM b{r})
                               || (SELECT b FROM b{r}) || '{sep}')
                  ELSE w.syms END AS syms
      FROM {prev} w
    )"""
        )
        selects.append(
            f"SELECT {r} AS round, a AS left_sym, b AS right_sym, "
            f"CAST(cnt AS BIGINT) AS pair_count FROM b{r}"
        )
    return (
        "WITH " + ",".join(parts) + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY round"
    )


def bpe_vocab_sql(n_merges: int = 6, min_pair_count: int = 2) -> str:
    """Oracle for the POST-merge tokenization state: reuses the unrolled
    stages of :func:`bpe_oracle_sql` and aggregates the final word table
    — distinct words, corpus tokens, weighted symbol count, and a hash
    over every word's exact symbol sequence (any mis-applied merge in
    any round changes it)."""
    base = bpe_oracle_sql(n_merges, min_pair_count)
    ctes = base.split("\n    SELECT ")[0]  # keep the CTE chain, swap the SELECT
    return (
        ctes
        + f"""
    SELECT CAST(COUNT(*) AS BIGINT)  AS n_distinct_words,
           CAST(SUM(n) AS BIGINT)    AS n_corpus_words,
           CAST(SUM(n * len(string_split(trim(BOTH '{SEP}' FROM syms),
                                         '{SEP}{SEP}'))) AS BIGINT)
                                     AS n_corpus_symbols,
           md5(string_agg(md5(syms), '' ORDER BY word)) AS vocab_md5
    FROM w{n_merges}"""
    )
