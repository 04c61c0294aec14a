"""LLM training-data pipeline queries, part 4: sequence packing,
deterministic stratified sampling, benchmark-contamination detection,
character-entropy quality scoring, stutter (repeated-token) stats,
data-mixture rebalancing weights, and the Zipf vocabulary profile.

Engine-tier surface (SURVEY §2.4 — the reference has no pipeline tier).
Same design rules as pipeline/pipeline2/pipeline3: pure JVM expression
trees, DuckDB oracle twins from shared constants, no RNG anywhere —
sampling and splits are hash-of-id functions so every engine and every
run agrees row-for-row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from rippledb_engine.operators.bpe import bpe_oracle_sql, bpe_vocab_sql
from rippledb_engine.operators.lm import bigram_lm_sql
from rippledb_engine.operators.dedup import shingles, shingles_sql
from rippledb_engine.operators.packing import pack_by_token_budget
from rippledb_engine.registry import query
from rippledb_engine.tables import load

PACK_BUDGET = 256  # tokens per packed training sequence
PACK_SHARDS = 8  # hash shards per language — bounds any one window partition


@query(
    "pack_documents_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
               % {PACK_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT lang, shard, doc_id, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM toks
    )
    SELECT lang, shard,
           CAST(FLOOR(cum_before / {PACK_BUDGET}.0) AS BIGINT) AS pack_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM packed GROUP BY lang, shard, pack_id ORDER BY lang, shard, pack_id
    """,
)
def pack_documents_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed token-budget packs per
    (language, hash-shard) — the standard pretraining batch-construction
    op. The pack id is floor(exclusive-running-token-total / budget), the
    deterministic streaming approximation of greedy bin packing, in ONE
    window pass.

    Scale shape: the window partitions by (lang, shard) where shard =
    md5(doc_id) % PACK_SHARDS. Partitioning by lang alone would put a
    dominant language (English is routinely >40% of a pretraining mix)
    on ONE task at 100 TB; sharding bounds every window partition at
    ~1/PACK_SHARDS of a language. Cost: at most one under-filled pack
    per shard boundary — the standard packing trade. The shard hash is
    md5-prefix (not Spark's murmur3 `hash`) so the DuckDB oracle twin
    computes the identical assignment; in production PACK_SHARDS scales
    with cluster size. Integer token counts keep the division exact on
    both engines."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    packed = pack_by_token_budget(
        d.select("doc_id", "lang", n_tok.alias("n_tok")),
        token_col="n_tok",
        order_col="doc_id",
        group_cols=["lang"],
        budget=PACK_BUDGET,
        n_shards=PACK_SHARDS,
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("pack_tokens"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


@query(
    "stratified_sample_by_lang",
    oracle="""
    WITH sampled AS (
      SELECT lang, n_chars
      FROM documents
      WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
            <= CASE WHEN lang = 'en' THEN '3f' ELSE '7f' END
    )
    SELECT lang, COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM sampled GROUP BY lang ORDER BY lang
    """,
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep rates (en ≈
    25%, others ≈ 50% — downsampling the over-represented stratum is the
    classic data-mix rebalance) decided by the first md5 hex byte of the
    doc id. No RNG and no sampleBy() state: membership is a pure function
    of the id, reproducible across engines/runs/partitionings, and the
    predicate evaluates in the scan (no shuffle to sample)."""
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    keep = bucket <= F.when(F.col("lang") == "en", "3f").otherwise("7f")
    return (
        d.filter(keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


@query(
    "benchmark_contamination_4gram",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, unnest({shingles_sql('text', 4)}) AS g FROM documents
    ),
    bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0)
    SELECT s.doc_id, COUNT(DISTINCT s.g) AS n_shared
    FROM sh s JOIN bench b ON s.g = b.g
    WHERE s.doc_id % 50 <> 0
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def benchmark_contamination_4gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: training docs sharing any token
    4-gram with the held-out benchmark slice (doc_id % 50 = 0 stands in
    for the eval set), with the shared-shingle count as evidence. The
    benchmark side is tiny by construction → its distinct shingle set
    broadcasts; the scan side explodes shingles once and hash-joins —
    never doc×doc. This is the decontamination pass every pretraining
    pipeline runs before training."""
    d = load(spark, sf_dir, "documents")
    sh = d.select("doc_id", F.explode(shingles("text", 4)).alias("g"))
    bench = (
        sh.filter(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_shared"))
        .orderBy("doc_id")
    )


@query(
    "char_entropy_quality",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(list_transform(range(1, LENGTH(text) + 1),
                            i -> substring(text, i, 1))) AS ch
      FROM documents
    ),
    freq AS (
      SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
    ),
    probs AS (
      SELECT doc_id, c / (SUM(c) OVER (PARTITION BY doc_id)) AS p FROM freq
    ),
    ent AS (
      SELECT doc_id, -SUM(p * LOG2(p)) AS h FROM probs GROUP BY doc_id
    )
    SELECT doc_id, CAST(ROUND(h, 4) AS DOUBLE) AS entropy
    FROM ent ORDER BY ROUND(h, 4), doc_id LIMIT 10
    """,
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram character entropy per document, 10 lowest — the
    perplexity-proxy quality screen (low-entropy text = repetitive
    boilerplate/garbage). Chars explode through a generated sequence (no
    UDF), entropy is two aggregation levels: (doc, char) counts, then the
    -Σ p·log₂p fold per doc. Both engines compute p from integer counts,
    so the only fp nondeterminism is sub-ulp summation order, absorbed by
    the 4dp round (ordering uses the rounded value on both sides)."""
    d = load(spark, sf_dir, "documents")
    ch = F.expr(
        "explode(transform(sequence(1, length(text)), i -> substring(text, i, 1)))"
    )
    freq = (
        d.select("doc_id", ch.alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = Window.partitionBy("doc_id")
    p = F.col("c") / F.sum("c").over(total)
    ent = (
        freq.select("doc_id", (p * F.log2(p)).alias("term"))
        .groupBy("doc_id")
        .agg((-F.sum("term")).alias("h"))
    )
    return (
        ent.select("doc_id", F.round("h", 4).cast("double").alias("entropy"))
        .orderBy("entropy", "doc_id")
        .limit(10)
    )


@query(
    "repeated_token_stats",
    oracle="""
    WITH reps AS (
      SELECT source,
             CASE WHEN len(string_split(text, ' ')) >= 2 THEN
               CAST(len(list_filter(
                 list_transform(range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] = string_split(text, ' ')[i + 1]),
                 x -> x)) AS BIGINT)
             ELSE 0 END AS n_rep
      FROM documents
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_rep > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_repeats,
           CAST(SUM(n_rep) AS BIGINT) AS total_repeats
    FROM reps GROUP BY source ORDER BY source
    """,
)
def repeated_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent repeated-token (stutter) accounting per source — the
    cleaning heuristic that catches low-quality generation/scrape
    artifacts ('the the'). The pairwise comparison is a generated index
    sequence over the token array (codegen, no UDF); the ≥2-token guard
    exists because Spark's sequence(1, 0) DESCENDS instead of returning
    empty. One agg on the small source key."""
    d = load(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    n_rep = F.expr(
        f"CASE WHEN size({toks}) >= 2 THEN "
        f"CAST(size(filter(transform(sequence(1, size({toks}) - 1), "
        f"i -> element_at({toks}, i) = element_at({toks}, i + 1)), x -> x)) AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    return (
        d.select("source", n_rep.alias("n_rep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_rep") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_with_repeats"),
            F.sum("n_rep").alias("total_repeats"),
        )
        .orderBy("source")
    )


@query(
    "source_mix_weights",
    oracle="""
    WITH toks AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT COUNT(*) AS n_langs, SUM(n_tok) AS all_tok FROM toks)
    SELECT lang, n_tok,
           CAST(ROUND(LEAST(1.0,
             (all_tok / CAST(n_langs AS DOUBLE)) / n_tok), 6) AS DOUBLE)
             AS sample_weight,
           CAST(FLOOR(n_tok * ROUND(LEAST(1.0,
             (all_tok / CAST(n_langs AS DOUBLE)) / n_tok), 6)) AS BIGINT)
             AS expected_tokens
    FROM toks, tot
    ORDER BY lang
    """,
)
def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture rebalancing: per-language sampling weights that move
    the corpus toward an equal-share token mix, downsample-only (weight
    capped at 1.0 — upsampling is a training-time repeat factor, not a
    data op). The whole computation is two tiny aggregates (per-lang
    token totals + the grand total broadcast back); at 100 TB the only
    data-sized pass is the one token-count scan. The weight is the
    number every `stratified_sample_by_lang`-style hash filter needs as
    its keep-rate input."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tok"))
    )
    tot = toks.agg(
        F.count(F.lit(1)).alias("n_langs"), F.sum("n_tok").alias("all_tok")
    )
    weight = F.round(
        F.least(
            F.lit(1.0),
            (F.col("all_tok") / F.col("n_langs").cast("double")) / F.col("n_tok"),
        ),
        6,
    )
    return (
        toks.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_tok",
            weight.cast("double").alias("sample_weight"),
            F.floor(F.col("n_tok") * weight).cast("bigint").alias("expected_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "zipf_token_rank_profile",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT SUM(c) AS n FROM counts),
    ranked AS (
      SELECT t, c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rnk FROM counts
    )
    SELECT rnk, t AS token, CAST(c AS BIGINT) AS n_occurrences,
           CAST(ROUND(c / CAST(n AS DOUBLE), 6) AS DOUBLE) AS share
    FROM ranked, tot
    WHERE rnk <= 20
    ORDER BY rnk
    """,
)
def zipf_token_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency profile: the top-20 tokens by corpus count
    with rank and corpus share — the Zipf-curve head every tokenizer/
    vocab analysis starts from. Explode + one hash-agg on the token key;
    the rank is a TakeOrderedAndProject over the AGGREGATED vocabulary
    (orders of magnitude smaller than the corpus), never a sort of the
    token stream; (count DESC, token) total order keeps ranks
    engine-deterministic. The unpartitioned row_number window runs AFTER
    the limit — its input is k=20 rows by construction at any corpus
    size (bounded, unlike a data-proportional global window)."""
    d = load(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.agg(F.sum("c").alias("n"))
    top = counts.orderBy(F.desc("c"), F.asc("t")).limit(20)
    w = Window.orderBy(F.desc("c"), F.asc("t"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .crossJoin(F.broadcast(tot))
        .select(
            "rnk",
            F.col("t").alias("token"),
            F.col("c").cast("bigint").alias("n_occurrences"),
            F.round(F.col("c") / F.col("n").cast("double"), 6)
            .cast("double")
            .alias("share"),
        )
        .orderBy("rnk")
    )


@query(
    "near_dup_clusters_canonical",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, {shingles_sql('text', 3)} AS shingles FROM documents
    ),
    sized AS (SELECT doc_id, len(shingles) AS n FROM sh WHERE len(shingles) > 0),
    inv AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
            WHERE len(shingles) > 0),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM shared
      JOIN sized na ON na.doc_id = id_a JOIN sized nb ON nb.doc_id = id_b
      WHERE shared / (na.n + nb.n - shared) >= 0.5
    ),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach AS (
      SELECT node, node AS r FROM nodes
      UNION
      SELECT e.b AS node, r.r FROM reach r JOIN edges e ON r.node = e.a
    ),
    comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node)
    SELECT CAST(comp AS BIGINT) AS cluster_id,
           COUNT(*) AS n_docs,
           CAST(MAX(node) AS BIGINT) AS max_doc,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removable
    FROM comp GROUP BY comp ORDER BY cluster_id
    """,
)
def near_dup_clusters_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup endgame: near-dup PAIRS (exact 3-gram Jaccard ≥ 0.5,
    inverted-index join) chained into CLUSTERS via min-label connected
    components iterated to the exact fixpoint, with the lowest doc_id as
    each cluster's canonical representative — keep 1, drop n_removable.
    This is the transitive step pair-level dedup misses (A~B, B~C but
    A≁C still must collapse to ONE kept doc). Scale shape: the pair
    graph is orders of magnitude smaller than the corpus (near-dup
    pairs only), so the CC loop runs on edges ∝ duplicates, not docs;
    at 100 TB the minhash-LSH tier replaces the exact pair join in
    front (same composition, `dedup.py` banding), and CC's per-round
    shuffles stay proportional to the near-dup subgraph. Oracle: DuckDB
    recursive transitive closure computes the identical fixpoint."""
    from rippledb_engine.operators.dedup import ngram_jaccard_pairs
    from rippledb_engine.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", shingle_n=3, threshold=0.5)
    cc = connected_components(pairs, src="id_a", dst="id_b", iterations=None)
    return (
        cc.groupBy(F.col("comp").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("node").cast("bigint").alias("max_doc"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removable"),
        )
        .orderBy("cluster_id")
    )


@query(
    "dedup_incremental_new_batch",
    oracle=f"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 10 < 8),
    batch AS (SELECT * FROM documents WHERE doc_id % 10 >= 8),
    exact_survivors AS (
      SELECT b.doc_id, b.text FROM batch b
      WHERE md5(b.text) NOT IN (SELECT md5(text) FROM corpus)
    ),
    bsh AS (
      SELECT doc_id, unnest({shingles_sql('text', 3)}) AS g
      FROM exact_survivors
    ),
    csh AS (
      SELECT DISTINCT unnest({shingles_sql('text', 3)}) AS g FROM corpus
    ),
    bsz AS (SELECT doc_id, COUNT(DISTINCT g) AS n FROM bsh GROUP BY doc_id),
    overlap AS (
      SELECT b.doc_id, COUNT(DISTINCT b.g) AS shared
      FROM bsh b JOIN csh c ON b.g = c.g GROUP BY b.doc_id
    )
    SELECT s.doc_id,
           CAST(COALESCE(o.shared, 0) AS BIGINT) AS shared_shingles,
           CAST(ROUND(COALESCE(o.shared, 0) / CAST(z.n AS DOUBLE), 4) AS DOUBLE)
             AS containment
    FROM exact_survivors s
    JOIN bsz z ON z.doc_id = s.doc_id
    LEFT JOIN overlap o ON o.doc_id = s.doc_id
    ORDER BY s.doc_id
    """,
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW batch (doc_id %
    10 >= 8 stands in for today's crawl) deduped AGAINST the existing
    corpus without re-deduping the corpus itself. Two tiers in one
    pass: exact (md5 LEFT ANTI join against the corpus's fingerprint
    set — at 100 TB that set is a bucketed table or Bloom filter, the
    anti-join shape is identical), then shingle CONTAINMENT of each
    surviving doc in the corpus's shingle vocabulary (containment, not
    Jaccard: against a corpus-sized reference the right measure is
    |B∩C| / |B|). Only the batch explodes per-doc shingles — corpus
    shingles reduce to a DISTINCT vocabulary, shuffled once on the
    shingle key; nothing is ever batch×corpus pairwise."""
    d = load(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 < 8)
    batch = d.filter(F.col("doc_id") % 10 >= 8)
    corpus_md5 = corpus.select(F.md5("text").alias("__h")).distinct()
    survivors = batch.join(
        corpus_md5, F.md5(batch["text"]) == corpus_md5["__h"], "left_anti"
    ).select("doc_id", "text")
    bsh = survivors.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("g")
    )
    csh = corpus.select(F.explode(shingles("text", 3)).alias("g")).distinct()
    bsz = bsh.groupBy("doc_id").agg(F.countDistinct("g").alias("n"))
    overlap = (
        bsh.join(csh, "g").groupBy("doc_id").agg(F.countDistinct("g").alias("shared"))
    )
    return (
        bsz.join(overlap, "doc_id", "left_outer")
        .select(
            "doc_id",
            F.coalesce("shared", F.lit(0)).cast("bigint").alias("shared_shingles"),
            F.round(
                F.coalesce("shared", F.lit(0)) / F.col("n").cast("double"), 4
            ).cast("double").alias("containment"),
        )
        .orderBy("doc_id")
    )


CHUNK_TOKENS = 32  # context-window tokens per chunk
CHUNK_OVERLAP = 8  # tokens shared between consecutive chunks


@query(
    "chunk_documents_overlapping",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
      FROM documents WHERE doc_id % 7 = 0
    ),
    dims AS (
      SELECT doc_id, t,
             (1 + CAST(ceil(GREATEST(len(t) - {CHUNK_TOKENS}, 0)
                            / {CHUNK_TOKENS - CHUNK_OVERLAP}.0) AS BIGINT)) AS k
      FROM toks
    ),
    nums AS (
      SELECT doc_id, t, UNNEST(range(k)) AS chunk_no FROM dims
    ),
    chunks AS (
      SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
             list_slice(t, chunk_no * {CHUNK_TOKENS - CHUNK_OVERLAP} + 1,
                        chunk_no * {CHUNK_TOKENS - CHUNK_OVERLAP} + {CHUNK_TOKENS}) AS piece
      FROM nums
    )
    SELECT doc_id, chunk_no,
           CAST(len(piece) AS INT) AS n_chunk_tokens,
           md5(array_to_string(piece, ' ')) AS chunk_md5
    FROM chunks
    ORDER BY doc_id, chunk_no
    """,
)
def chunk_documents_overlapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (operators.chunking — the step between raw
    documents and sequence packing): every 7th document split into
    32-token windows with 8-token overlap, every chunk's token count and
    content hash checked against the DuckDB list_slice twin. The plan is
    a flatMap-shaped projection — tokenize, posexplode a computed chunk
    index, slice — no UDF, no shuffle before the display sort."""
    from rippledb_engine.operators.chunking import chunk_by_tokens

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    chunks = chunk_by_tokens(d, "text", "doc_id", CHUNK_TOKENS, CHUNK_OVERLAP)
    return chunks.select(
        "doc_id",
        "chunk_no",
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    ).orderBy("doc_id", "chunk_no")


SPAN_N = 2  # span length for the frequent-n-gram scrub (tiny synthetic vocab)
SPAN_MAX_DF = 40  # spans in more docs than this are boilerplate


@query(
    "clean_frequent_span_removal",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
    ),
    starts AS (
      SELECT doc_id, i,
             array_to_string(list_slice(t, i + 1, i + {SPAN_N}), ' ') AS sh
      FROM toks, UNNEST(range(len(t) - {SPAN_N - 1})) AS u(i)
      WHERE len(t) >= {SPAN_N}
    ),
    freq AS (
      SELECT sh FROM starts GROUP BY sh
      HAVING COUNT(DISTINCT doc_id) > {SPAN_MAX_DF}
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, v.j
      FROM starts s JOIN freq USING (sh),
           UNNEST(range(s.i, s.i + {SPAN_N})) AS v(j)
    ),
    tok_pos AS (
      SELECT doc_id, len(t) AS n_tokens, u.j, t[u.j + 1] AS tok
      FROM toks, UNNEST(range(len(t))) AS u(j)
    ),
    kept AS (
      SELECT tp.doc_id, tp.j, tp.tok
      FROM tok_pos tp
      ANTI JOIN covered c ON c.doc_id = tp.doc_id AND c.j = tp.j
    ),
    kept_agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY j) AS cleaned
      FROM kept GROUP BY doc_id
    )
    -- every document surfaces: fully-covered docs come back as
    -- n_kept=0 / md5('') via the left join (operator contract)
    SELECT t.doc_id, CAST(len(t.t) AS INT) AS n_tokens,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(k.cleaned, '')) AS cleaned_md5
    FROM toks t LEFT JOIN kept_agg k USING (doc_id)
    ORDER BY doc_id
    """,
)
def clean_frequent_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style frequent-span scrub (operators.cleaning, r5): every
    2-token span occurring in more than {SPAN_MAX_DF} documents is cut
    from every document; per-doc kept-token counts and cleaned-text
    hashes checked against the DuckDB twin. All equi-joins (covered
    positions expand per frequent start — never a range join); the
    frequent set is small by Zipf, so the back-join is hash-uniform.
    The length-2 spans suit the synthetic vocabulary; production corpora
    use n≈5 with a proportionally higher cap."""
    from rippledb_engine.operators.cleaning import remove_frequent_ngram_spans

    d = load(spark, sf_dir, "documents")
    out = remove_frequent_ngram_spans(d, "text", "doc_id", n=SPAN_N, max_df=SPAN_MAX_DF)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "n_kept",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).orderBy("doc_id")


@query(
    "rebalance_sample_applied",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    lt AS (SELECT lang, SUM(n_tok) AS lang_tok FROM tok GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_langs, SUM(lang_tok) AS all_tok FROM lt),
    w AS (
      SELECT lang, lang_tok,
             ROUND(LEAST(1.0, (all_tok / CAST(n_langs AS DOUBLE)) / lang_tok), 6) AS wt
      FROM lt, tot
    ),
    j AS (SELECT t.doc_id, t.lang, t.n_tok, w.wt FROM tok t JOIN w USING (lang)),
    k AS (
      SELECT * FROM j
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
            / 16777216.0 < wt
    )
    SELECT j.lang, w.wt AS sample_weight,
           COUNT(*) AS n_docs,
           CAST((SELECT COUNT(*) FROM k WHERE k.lang = j.lang) AS BIGINT) AS n_kept,
           CAST((SELECT COALESCE(SUM(n_tok), 0) FROM k WHERE k.lang = j.lang) AS BIGINT)
             AS kept_tokens
    FROM j JOIN w ON w.lang = j.lang
    GROUP BY j.lang, w.wt ORDER BY j.lang
    """,
)
def rebalance_sample_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixture loop CLOSED (r5): compute the equal-share
    downsample-only weights (source_mix_weights' two tiny aggregates),
    broadcast them back onto the corpus, and APPLY them with the
    deterministic md5-fraction keep test (the stratified_sample hash —
    no RNG; membership is a pure function of doc id and the weight).
    Per-language kept counts/tokens attest the whole pipeline: weights ×
    hash thresholds × filter. One corpus scan + two tiny aggregates —
    the rebalanced corpus itself falls out of the same filter at 100 TB."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    lt = tok.groupBy("lang").agg(F.sum("n_tok").alias("lang_tok"))
    tot = lt.agg(F.count(F.lit(1)).alias("n_langs"), F.sum("lang_tok").alias("all_tok"))
    w = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (F.col("all_tok") / F.col("n_langs").cast("double")) / F.col("lang_tok"),
            ),
            6,
        ).alias("wt"),
    )
    j = tok.join(F.broadcast(w), "lang")
    frac = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint") / F.lit(16777216.0)
    )
    j = j.withColumn("kept", frac < F.col("wt"))
    return (
        j.groupBy("lang", F.col("wt").alias("sample_weight"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("n_tok")).otherwise(F.lit(0))).alias(
                "kept_tokens"
            ),
        )
        .orderBy("lang")
    )


@query(
    "pii_scrub_accounting",
    oracle="""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR) ||
             '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.7 tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
             '-4567' AS text
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
             len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ipv4,
             len(regexp_extract_all(text, '\\b\\d{3}[- .]\\d{3,4}[- .]\\d{4}\\b')) AS n_phones,
             regexp_replace(regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
               '\\b\\d{3}[- .]\\d{3,4}[- .]\\d{4}\\b', '<PHONE>', 'g') AS s
      FROM planted
    )
    SELECT doc_id % 10 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_emails) AS BIGINT) AS sum_emails,
           CAST(SUM(n_ipv4) AS BIGINT) AS sum_ipv4,
           CAST(SUM(n_phones) AS BIGINT) AS sum_phones,
           md5(string_agg(md5(s), '' ORDER BY doc_id)) AS scrub_md5
    FROM scrubbed GROUP BY bucket ORDER BY bucket
    """,
)
def pii_scrub_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/pii.py, r6) over documents with PLANTED
    deterministic PII (an email, an IPv4, and a phone derived from
    doc_id — the raw corpus has none, so planting makes every pattern
    exercise on every row). Counts are detected on the original text;
    the scrub chain's exact output is hash-verified per bucket via an
    ordered md5 chain — the DuckDB oracle reruns the identical RE2∩Java
    patterns, so a green row certifies byte-identical masking. One
    codegen projection + one hash-agg; no UDFs, no extra shuffle."""
    from rippledb_engine.operators import pii

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
            F.lit("-4567"),
        ).alias("text"),
    )
    out = pii.scrub_pii(d, "text", "doc_id")
    return (
        out.withColumn("h", F.md5("scrubbed_text"))
        .groupBy((F.col("id") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_emails").alias("sum_emails"),
            F.sum("n_ipv4").alias("sum_ipv4"),
            F.sum("n_phones").alias("sum_phones"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("id", "h"))),
                        lambda s: s["h"],
                    ),
                )
            ).alias("scrub_md5"),
        )
        .orderBy("bucket")
    )


@query(
    "clean_frequent_line_removal",
    oracle="""
    WITH lined AS (
      SELECT doc_id,
             text || chr(10) || 'shared boilerplate footer' || chr(10) ||
             'cohort line ' || CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
             'unique line ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id, u.j, ln[u.j + 1] AS line,
             lower(trim(ln[u.j + 1])) AS norm
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM lined),
           UNNEST(range(len(ln))) AS u(j)
    ),
    freq AS (
      SELECT norm FROM lines GROUP BY norm
      HAVING COUNT(DISTINCT doc_id) > 40
    ),
    kept AS (
      SELECT l.doc_id, l.j, l.line FROM lines l
      ANTI JOIN freq f ON f.norm = l.norm
    ),
    kept_agg AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY j) AS cleaned
      FROM kept GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len(string_split(text, chr(10))) AS n_lines FROM lined
    )
    SELECT b.doc_id, CAST(b.n_lines AS INT) AS n_lines,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(k.cleaned, '')) AS cleaned_md5
    FROM base b LEFT JOIN kept_agg k USING (doc_id)
    ORDER BY doc_id
    """,
)
def clean_frequent_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style LINE-level boilerplate scrub (operators/cleaning.
    remove_frequent_lines, r6): documents get deterministic planted lines
    — a footer shared by ALL docs and a cohort line shared by ~1/5 of
    them (both over the df cap of 40 at sf>=0.01) plus a unique line —
    then any normalized line in more than 40 distinct docs is removed
    everywhere. Per-doc kept counts and exact cleaned text are
    hash-verified against the DuckDB twin."""
    from rippledb_engine.operators.cleaning import remove_frequent_lines

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshared boilerplate footer\ncohort line "),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("\nunique line "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = remove_frequent_lines(d, "text", "doc_id", max_df=40)
    return out.select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        "n_kept",
        F.md5("cleaned_text").alias("cleaned_md5"),
    ).orderBy("doc_id")


@query(
    "bpe_merge_learning",
    oracle=bpe_oracle_sql(6, 2),
)
def bpe_merge_learning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (operators/bpe.py, r6): learn the first 6
    byte-pair merges from the documents corpus — each round one
    corpus-wide pair-count aggregation over the distinct-word table, a
    deterministic argmax (ties break on (left, right)), and a
    sentinel-wrapped string replace applying the merge. The oracle
    unrolls the identical 6 stages as materialized CTEs, so a green row
    certifies the whole iterative learning trajectory: every round's
    chosen pair AND its corpus count must match byte-for-byte (a single
    divergent merge changes every later round)."""
    from rippledb_engine.operators.bpe import learn_bpe_merges

    d = load(spark, sf_dir, "documents")
    merges, _ = learn_bpe_merges(d, "text", n_merges=6, min_pair_count=2)
    return spark.createDataFrame(
        merges, "round int, left_sym string, right_sym string, pair_count long"
    ).orderBy("round")


@query(
    "bpe_tokenized_vocab",
    oracle=bpe_vocab_sql(6, 2),
)
def bpe_tokenized_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLICATION side of BPE training (companion to
    bpe_merge_learning): after the 6 learned merges, the final per-word
    symbol sequences are themselves hash-certified — corpus word/symbol
    totals plus an ordered md5 chain over every word's exact segmentation,
    so a merge mis-applied in any round (wrong order, boundary leak,
    missed occurrence) flips the row even if the merge TABLE matched."""
    from rippledb_engine.operators.bpe import SEP, learn_bpe_merges

    d = load(spark, sf_dir, "documents")
    _, words = learn_bpe_merges(d, "text", n_merges=6, min_pair_count=2)
    n_syms = F.size(F.split(F.expr(f"trim(BOTH '{SEP}' FROM syms)"), SEP + SEP))
    return (
        words.withColumn("h", F.md5("syms"))
        .agg(
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum("n").alias("n_corpus_words"),
            F.sum(F.col("n") * n_syms).alias("n_corpus_symbols"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("word", "h"))),
                        lambda s: s["h"],
                    ),
                )
            ).alias("vocab_md5"),
        )
    )


@query(
    "lm_perplexity_quality",
    oracle=bigram_lm_sql("documents", "text", "doc_id")
    + " ORDER BY h_bits, id LIMIT 25",
)
def lm_perplexity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (operators/lm.py, r6): a bigram LM with
    add-0.5 smoothing trains on the corpus in the same job that scores
    it; the 25 LOWEST cross-entropy documents (most templated/repetitive
    — the low-tail cut a CCNet-style filter drops first) are the
    certified output, ordered by (rounded bits, doc_id) so the top-k
    selection bakes the scoring into the verified row set."""
    from rippledb_engine.operators.lm import bigram_lm_scores

    d = load(spark, sf_dir, "documents")
    return (
        bigram_lm_scores(d, "text", "doc_id")
        .orderBy("h_bits", "id")
        .limit(25)
    )


@query(
    "dedup_prefix_containment",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             string_split_regex(trim(text), '\\s+') AS t
      FROM documents
    ),
    trunc AS (
      SELECT doc_id + 1000000 AS doc_id,
             array_to_string(list_slice(t, 1,
               GREATEST(16, CAST(FLOOR(len(t) * 3 / 5) AS INT))), ' ') AS text
      FROM base WHERE doc_id % 11 = 0 AND len(t) >= 20
    ),
    corpus AS (
      SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM trunc
    ),
    eligible AS (
      SELECT doc_id, text FROM corpus
      WHERE len(string_split_regex(trim(text), '\\s+')) >= 16
    )
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id
    FROM eligible a JOIN eligible b
      ON starts_with(b.text, a.text || ' ')
    ORDER BY contained_id, container_id
    """,
)
def dedup_prefix_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation-duplicate detection (dedup.prefix_containment_pairs,
    r6): plant a truncated twin (first 60% of tokens, id + 1e6) for every
    11th document, then find every (contained, container) pair where one
    text is a strict prefix of another. The operator blocks on the
    first-16-token hash (never all-pairs — losing nothing, since a
    qualifying prefix pair necessarily shares that key); the oracle verifies with
    the direct quadratic definition, so the blocking's completeness is
    exactly what the hash-match certifies."""
    from rippledb_engine.operators.dedup import prefix_containment_pairs

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.split(F.trim(F.col("text")), r"\s+")
    trunc = (
        d.withColumn("__t", t)
        .filter((F.col("doc_id") % 11 == 0) & (F.size("__t") >= 20))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.array_join(
                F.slice(
                    "__t",
                    1,
                    F.greatest(
                        F.lit(16), F.floor(F.size("__t") * 3 / 5).cast("int")
                    ),
                ),
                " ",
            ).alias("text"),
        )
    )
    corpus = d.unionByName(trunc)
    return prefix_containment_pairs(corpus, "text", "doc_id").orderBy(
        "contained_id", "container_id"
    )


@query(
    "training_prep_pipeline",
    oracle="""
    WITH planted AS (
      SELECT doc_id, source,
             text || ' contact u' || CAST(doc_id AS VARCHAR) ||
             '@example.com now' AS text
      FROM documents
    ),
    scrubbed AS (
      SELECT doc_id, source,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS text
      FROM planted
    ),
    bg AS (
      SELECT doc_id, t[u.i] AS a, t[u.i + 1] AS b
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM scrubbed),
           UNNEST(range(1, len(t))) AS u(i)
    ),
    counts AS (SELECT a, b, COUNT(*) AS cab FROM bg GROUP BY a, b),
    context AS (SELECT a, SUM(cab) AS ca FROM counts GROUP BY a),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM scrubbed)
      WHERE tok <> ''
    ),
    model AS (
      SELECT c.a, c.b, (c.cab + 0.5) / (x.ca + 0.5 * vocab.v) AS p
      FROM counts c JOIN context x USING (a), vocab
    ),
    scored AS (
      SELECT bg.doc_id, ROUND(AVG(-LOG2(m.p)), 4) AS h_bits
      FROM bg JOIN model m ON bg.a = m.a AND bg.b = m.b
      GROUP BY bg.doc_id
    ),
    dropped AS (
      SELECT doc_id FROM scored ORDER BY h_bits, doc_id LIMIT 25
    ),
    survivors AS (
      SELECT s.doc_id, s.source,
             len(string_split_regex(trim(s.text), '\\s+')) AS n_tok
      FROM scrubbed s
      JOIN scored sc USING (doc_id)
      ANTI JOIN dropped d ON d.doc_id = s.doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM survivors GROUP BY source ORDER BY source
    """,
)
def training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-6 operators COMPOSED as one training-prep pass: plant an
    email per doc → PII scrub (operators/pii) → self-trained bigram-LM
    scoring over the SCRUBBED corpus (operators/lm) → drop the 25
    lowest-entropy documents (the templated tail) → per-source document
    and token accounting. Every stage is the registered operator; the
    oracle replays the identical chain, so a green row certifies the
    COMPOSITION — scrub output feeding the LM changes every downstream
    number if either stage drifts."""
    from rippledb_engine.operators import pii
    from rippledb_engine.operators.lm import bigram_lm_scores

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ).alias("text"),
    )
    scrubbed = d.select(
        "doc_id", "source", pii.scrub_text("text").alias("text")
    )
    scored = bigram_lm_scores(scrubbed, "text", "doc_id").withColumnRenamed(
        "id", "doc_id"
    )
    dropped = (
        scored.orderBy("h_bits", "doc_id")
        .limit(25)
        .select(F.col("doc_id").alias("drop_id"))
    )
    survivors = (
        scrubbed.join(scored.select("doc_id"), "doc_id")
        .join(dropped, F.col("doc_id") == F.col("drop_id"), "left_anti")
        .select(
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tok"),
        )
    )
    return (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
        .orderBy("source")
    )


@query(
    "lm_heldout_scoring",
    oracle="""
    WITH train AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    held AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    tbg AS (
      SELECT t[u.i] AS a, t[u.i + 1] AS b
      FROM (SELECT string_split_regex(trim(text), '\\s+') AS t FROM train),
           UNNEST(range(1, len(t))) AS u(i)
    ),
    counts AS (SELECT a, b, COUNT(*) AS cab FROM tbg GROUP BY a, b),
    context AS (SELECT a AS ctx_a, SUM(cab) AS ctx_ca FROM counts GROUP BY a),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
            FROM train)
      WHERE tok <> ''
    ),
    hbg AS (
      SELECT doc_id AS id, t[u.i] AS a, t[u.i + 1] AS b
      FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM held),
           UNNEST(range(1, len(t))) AS u(i)
    ),
    scored AS (
      SELECT h.id,
             (COALESCE(c.cab, 0) + 0.5)
               / (COALESCE(x.ctx_ca, 0) + 0.5 * vocab.v) AS p
      FROM hbg h
      LEFT JOIN counts c ON c.a = h.a AND c.b = h.b
      LEFT JOIN context x ON x.ctx_a = h.a, vocab
    )
    SELECT id, COUNT(*) AS n_bigrams,
           ROUND(AVG(-LOG2(p)), 4) AS h_bits
    FROM scored GROUP BY id
    ORDER BY ROUND(AVG(-LOG2(p)), 4) DESC, id LIMIT 25
    """,
)
def lm_heldout_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM scoring (r6): the bigram model trains on the EVEN
    documents and scores the ODD half — the production shape where the
    quality model is fit on a reference slice, exercising the smoothed
    unseen-mass branch (bigrams and contexts absent from the training
    half). The certified output is the 25 HIGHEST-entropy held-out
    documents (the surprising tail); the oracle replays the identical
    train/score split and smoothing arithmetic with the same left-join
    null branches."""
    from rippledb_engine.operators.lm import bigram_lm_scores

    d = load(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0)
    held = d.filter(F.col("doc_id") % 2 == 1)
    return (
        bigram_lm_scores(held, "text", "doc_id", train_df=train)
        .orderBy(F.desc("h_bits"), "id")
        .limit(25)
    )
