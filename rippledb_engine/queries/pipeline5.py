"""Pipeline query batch 5 (r6): Gopher-style repetition/quality filtering
over documents (operators/quality.py) — the published pre-training quality
gate family (Rae et al. 2021, Appendix A1), oracle-checked end to end.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_engine.functions import html as HTML
from rippledb_engine.functions import url as URL
from rippledb_engine.operators import clustering as KM
from rippledb_engine.operators import mixture as MX
from rippledb_engine.operators import quality as Q
from rippledb_engine.operators import semdedup as SD
from rippledb_engine.registry import query
from rippledb_engine.tables import load
from rippledb_spark.tables import scratch_dir

_GOPHER_CTE = Q.repetition_metrics_sql("documents", "text", "doc_id")


@query(
    "gopher_repetition_metrics",
    oracle=f"""
    WITH {_GOPHER_CTE.strip()}
    SELECT id, n_words, word_chars, n_stopwords_distinct,
           mean_word_len, alpha_frac,
           top1_frac, top2_frac, top3_frac, dup5_frac, keep
    FROM gopher ORDER BY id
    """,
)
def gopher_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule metrics + keep decision (operators/
    quality.py): word/char counts, mean word length, alphabetic-word and
    stopword presence, top-{1,2,3}-gram char coverage, duplicated-5-gram
    char coverage. The oracle replays the identical gram enumeration and
    coverage arithmetic in DuckDB, so a green row certifies every rule's
    formula — one row per input document, short docs included."""
    d = load(spark, sf_dir, "documents")
    return Q.repetition_metrics(d, "text", "doc_id").orderBy("id")


@query(
    "gopher_repetition_accounting",
    oracle=f"""
    WITH {_GOPHER_CTE.strip()},
    docs AS (SELECT doc_id AS id, source FROM documents)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           AVG(g.mean_word_len) AS avg_word_len,
           AVG(g.top2_frac)     AS avg_top2_frac,
           AVG(g.dup5_frac)     AS avg_dup5_frac
    FROM gopher g JOIN docs d ON g.id = d.id
    GROUP BY d.source ORDER BY d.source
    """,
)
def gopher_repetition_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level quality-gate accounting: per ingestion source, how many
    documents the Gopher rules keep and the mean repetition profile — the
    report a 100 TB filtering run emits per crawl segment. Metrics join
    back to the documents table on doc id (both sides doc-partitioned)."""
    d = load(spark, sf_dir, "documents")
    m = Q.repetition_metrics(d, "text", "doc_id")
    return (
        m.join(d.select(F.col("doc_id").alias("id"), "source"), "id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.avg("mean_word_len").alias("avg_word_len"),
            F.avg("top2_frac").alias("avg_top2_frac"),
            F.avg("dup5_frac").alias("avg_dup5_frac"),
        )
        .orderBy("source")
    )


_KM_CTE = KM.kmeans_assignments_sql("embeddings", "embedding", "vec_id", dims=64)
# k=16 is the SemDeDup operating point for this corpus (cluster size ~30
# at sf0.01, ~300 at sf0.1): the within-cluster pair space shrinks k×, and
# production scales k with the corpus to hold cluster size constant.
_SD_CTE = SD.semantic_dedup_sql(
    "embeddings", "embedding", "vec_id", dims=64, k=16
)


@query(
    "dedup_semantic_embedding",
    oracle=f"""
    WITH {_SD_CTE.strip()},
    per_pair AS (
      SELECT cid, COUNT(*) AS n_dup_pairs, MAX(cos_sim) AS max_cos
      FROM sd_pairs GROUP BY cid
    ),
    per_flag AS (
      SELECT cid, COUNT(*) AS n_points,
             CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
      FROM sd_flags GROUP BY cid
    )
    SELECT f.cid, f.n_points,
           COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
           f.n_removed, p.max_cos
    FROM per_flag f LEFT JOIN per_pair p ON f.cid = p.cid
    ORDER BY f.cid
    """,
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/semdedup.py, Abbas et al.
    2023): L2-normalize, k-means-cluster the UNIT vectors (spherical
    blocking — cosine-identical vectors co-cluster regardless of
    magnitude), gate within-cluster pairs on 6dp-rounded cosine ≥ 0.35,
    remove the higher id of each pair. Reports per cluster: membership,
    qualifying pair count, removed-vector count, and the tightest pair's
    cosine. The oracle replays normalization, clustering, pair gate, and
    keep policy in DuckDB, so a green row certifies the full
    composition."""
    e = load(spark, sf_dir, "embeddings")
    # normalization, clustering, and pairs each run ONCE behind a lazy
    # checkpoint and are shared by both views: the normalize lambda is
    # interpreted (no codegen for higher-order exprs), the Lloyd pass
    # scans the points three times, and the pair set feeds two aggregates
    # repartition before the checkpoint: the embeddings table scans as a
    # couple of file-splits, which would serialize the interpreted fold
    # expressions (normalize + Lloyd distances) onto two cores
    unit = (
        SD.unit_vectors(e, "embedding", "vec_id")
        .repartition(spark.sparkContext.defaultParallelism, "pid")
        .localCheckpoint(eager=False)
    )
    assigned = KM.kmeans_assignments(unit, "v", "pid", k=16).localCheckpoint(
        eager=False
    )
    pairs = SD.semantic_dedup_pairs(
        e, "embedding", "vec_id", assigned=assigned, pts=unit
    ).localCheckpoint(eager=False)
    flags = SD.semantic_dedup_flags(
        e, "embedding", "vec_id", assigned=assigned, pairs=pairs, pts=unit
    )
    per_pair = pairs.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"), F.max("cos_sim").alias("max_cos")
    )
    per_flag = flags.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )
    return (
        per_flag.join(per_pair, "cid", "left")
        .select(
            "cid",
            "n_points",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            "n_removed",
            "max_cos",
        )
        .orderBy("cid")
    )


@query(
    "kmeans_embedding_clusters",
    oracle=f"""
    WITH {_KM_CTE.strip()}
    SELECT cid, COUNT(*) AS n_points, SUM(d2) AS sum_d2
    FROM km_final GROUP BY cid ORDER BY cid
    """,
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed Lloyd rounds of k-means (k=4) over the embeddings table
    (operators/clustering.py), reporting per-cluster membership count and
    total squared distance. The oracle unrolls the identical rounds —
    deterministic lowest-id init, expanded-dot-product distances, 6dp
    centroid rounding per round — so a green row certifies assignment AND
    update arithmetic through two full iterations."""
    e = load(spark, sf_dir, "embeddings")
    return (
        KM.kmeans_assignments(e, "embedding", "vec_id", k=4, iterations=2)
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_points"), F.sum("d2").alias("sum_d2"))
        .orderBy("cid")
    )


@query(
    "mixture_epochs_applied",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    lt AS (SELECT lang, SUM(n_tok) AS lang_tok FROM tok GROUP BY lang),
    tot AS (SELECT COUNT(*) AS n_langs, SUM(lang_tok) AS all_tok FROM lt),
    w AS (
      SELECT lang,
             ROUND((all_tok / CAST(n_langs AS DOUBLE)) / lang_tok, 6) AS wt
      FROM lt, tot
    ),
    j AS (
      SELECT t.doc_id, t.lang, t.n_tok, w.wt,
             {MX.mixture_epochs_sql("w.wt", "t.doc_id")}
      FROM tok t JOIN w USING (lang)
    ),
    rep AS (
      SELECT lang, n_tok, unnest(generate_series(1, n_copies)) AS i FROM j
    ),
    src AS (SELECT lang, COUNT(*) AS n_docs FROM tok GROUP BY lang),
    em AS (
      SELECT lang, COUNT(*) AS n_emitted, SUM(n_tok) AS emitted_tokens
      FROM rep GROUP BY lang
    )
    SELECT s.lang, w.wt AS mix_weight, s.n_docs,
           CAST(COALESCE(e.n_emitted, 0) AS BIGINT) AS n_emitted,
           CAST(COALESCE(e.emitted_tokens, 0) AS BIGINT) AS emitted_tokens
    FROM src s
    JOIN w USING (lang)
    LEFT JOIN em e USING (lang)
    ORDER BY s.lang
    """,
)
def mixture_epochs_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLING half of the data-mixture loop (operators/mixture.py,
    complementing rebalance_sample_applied's capped downsample): each
    language's equal-token-share weight is left UNCAPPED, so rare
    languages get fractional epochs > 1 and are physically repeated —
    floor(w) copies plus one hash-gated extra — while common languages
    fall through to the keep-test. Per-language emitted row/token counts
    certify the copy-count arithmetic and the explode end to end."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    # ONE per-lang aggregation feeds both the weight table and the
    # n_docs output column (r15, guide §2.4: lt and src were separate
    # groupBy(lang) passes over the same corpus scan — integer sums and
    # counts fuse into one exchange with bit-identical results).
    # Lazy checkpoint: lt is one row per language and fans out to tot,
    # the weight table AND the final join — without the cut each
    # reference re-ran the corpus aggregation (plan audit: 10 scans of
    # documents; 4 after).
    lt = tok.groupBy("lang").agg(
        F.sum("n_tok").alias("lang_tok"), F.count(F.lit(1)).alias("n_docs")
    ).localCheckpoint(eager=False)
    tot = lt.agg(
        F.count(F.lit(1)).alias("n_langs"), F.sum("lang_tok").alias("all_tok")
    )
    w = lt.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        F.round(
            (F.col("all_tok") / F.col("n_langs").cast("double")) / F.col("lang_tok"),
            6,
        ).alias("wt"),
    )
    j = tok.join(F.broadcast(w.drop("n_docs")), "lang")
    rep = MX.apply_mixture_epochs(j, "wt", "doc_id")
    em = rep.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_emitted"),
        F.sum("n_tok").alias("emitted_tokens"),
    )
    return (
        w
        .join(em, "lang", "left")
        .select(
            "lang",
            F.col("wt").alias("mix_weight"),
            "n_docs",
            F.coalesce("n_emitted", F.lit(0)).cast("bigint").alias("n_emitted"),
            F.coalesce("emitted_tokens", F.lit(0))
            .cast("bigint")
            .alias("emitted_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "warc_roundtrip_accounting",
    oracle="""
    WITH u AS (
      SELECT source,
             'http://corpus.example/' || source || '/' ||
               CAST(doc_id AS VARCHAR) AS uri,
             CAST(octet_length(encode(text)) AS BIGINT) AS octets
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_records,
           CAST(SUM(octets) AS BIGINT) AS total_octets,
           md5(string_agg(uri, '' ORDER BY uri)) AS uri_md5
    FROM u GROUP BY source ORDER BY source
    """,
)
def warc_roundtrip_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trips the documents corpus through WARC (sources/warc.py —
    the ISO 28500 container Common Crawl ships): distributed write (one
    .warc part per partition, pure-expression records) then the
    Content-Length-framed reader, accounting per crawl source. The
    oracle derives the same counts/octets/uri-hash from the raw table,
    so a green row certifies serializer framing AND reader slicing end
    to end — a payload byte lost or an octet count misdeclared in either
    direction changes a number."""
    from rippledb_engine.sources.warc import read_warc, write_warc

    d = load(spark, sf_dir, "documents")
    recs = d.select(
        F.concat(
            F.lit("http://corpus.example/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2024-01-01T00:00:00Z").alias("warc_date"),
        F.col("text").alias("payload"),
    )
    # scratch_dir handles PID isolation AND atexit removal (the lazy
    # read-back forbids removing it here)
    out_dir = scratch_dir("rippledb_warc", sf_dir)
    write_warc(recs, out_dir)
    back = read_warc(spark, out_dir)
    return (
        back.select(
            F.regexp_extract(
                "target_uri", r"http://corpus\.example/([^/]+)/", 1
            ).alias("source"),
            "target_uri",
            "content_length",
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("content_length").cast("bigint").alias("total_octets"),
            F.md5(
                F.concat_ws("", F.array_sort(F.collect_list("target_uri")))
                .cast("binary")
            ).alias("uri_md5"),
        )
        .orderBy("source")
    )


_HTML_PRE = (
    '<html><head><title>Doc ' # noqa: Q000
)
# deterministic per-doc HTML synthesized identically in both engines: a
# style block, a script whose BODY contains tags/entities/a bare '<'
# (framing traps), the doc text as a paragraph, and an entity-bearing
# footer. No real HTML corpus ships in testdata, so the synthesis IS the
# fixture — the certified object is the strip chain itself.
_HTML_MID = (
    '</title><style>p { color: red }</style>'
    '<script>if (1 < 2) { var x = "<b>&amp;</b>"; }</script>'
    '</head><body><h1>'
)
_HTML_TAIL = '</p><br><div>footer &amp; &lt;end&gt;</div></body></html>'


@query(
    "html_text_extraction",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             '{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_HTML_MID}'
               || source || '</h1><p>' || text || '{_HTML_TAIL}' AS page
      FROM documents
    ),
    s AS (SELECT doc_id, {HTML.strip_html_sql("page")} AS txt FROM h)
    SELECT doc_id,
           CAST(octet_length(encode(txt)) AS BIGINT) AS n_octets,
           md5(txt) AS text_md5
    FROM s ORDER BY doc_id
    """,
)
def html_text_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (functions/html.py): every document is
    wrapped in deterministic markup — script/style blocks with framing
    traps, block tags, entities — and the codegen regexp chain strips it
    back out. Per-doc octet counts and text hashes must match the DuckDB
    twin running the IDENTICAL chain (Java-regex ∩ RE2), certifying tag
    removal, single-pass entity decode, and whitespace normalization
    byte-for-byte. One projection over the corpus, no shuffle before the
    final sort."""
    d = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(_HTML_TAIL),
    )
    txt = HTML.strip_html(page)
    return d.select(
        "doc_id",
        F.octet_length(txt).cast("bigint").alias("n_octets"),
        F.md5(txt.cast("binary")).alias("text_md5"),
    ).orderBy("doc_id")


_SYNTH_PAGE_SQL = (
    "('" + _HTML_PRE + "' || CAST(doc_id AS VARCHAR) || '" + _HTML_MID
    + "' || source || '</h1><p>' || text || '" + _HTML_TAIL + "')"
)


@query(
    "crawl_to_corpus_pipeline",
    oracle=f"""
    WITH stripped AS (
      SELECT doc_id, source,
             {HTML.strip_html_sql(_SYNTH_PAGE_SQL)} AS txt
      FROM documents
    ),
    {{GOPHER}}
    SELECT s.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g.keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(octet_length(encode(s.txt))) AS BIGINT) AS total_octets,
           md5(string_agg(s.txt, '' ORDER BY s.doc_id)) AS corpus_md5
    FROM stripped s JOIN gopher g ON g.id = s.doc_id
    GROUP BY s.source ORDER BY s.source
    """.replace(
        "{GOPHER}", Q.repetition_metrics_sql("stripped", "txt", "doc_id").strip()
    ),
)
def crawl_to_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl tier end to end, every stage the registered operator:
    documents wrapped in framing-trap HTML → written as WARC (ISO 28500
    records, sources/warc.py) → read back via Content-Length framing →
    HTML-stripped (functions/html.py) → Gopher-gated (operators/
    quality.py) → per-source accounting with an exact corpus hash. The
    oracle replays synthesis → strip → gate directly over the raw table,
    so a green row additionally certifies that the WARC hop was
    byte-lossless — any octet dropped in serialization, framing, or
    slicing changes corpus_md5."""
    from rippledb_engine.sources.warc import read_warc, write_warc

    d = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit(_HTML_TAIL),
    )
    recs = d.select(
        F.concat(
            F.lit("http://corpus.example/"),
            F.col("source"),
            F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("target_uri"),
        F.lit("2024-01-01T00:00:00Z").alias("warc_date"),
        page.alias("payload"),
    )
    out_dir = scratch_dir("rippledb_crawl", sf_dir)
    write_warc(recs, out_dir)
    # one WARC read + Python parse + strip, shared by the metrics subtree
    # and the per_doc join probe side (distinct subplans otherwise)
    back = read_warc(spark, out_dir).select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        F.regexp_extract(
            "target_uri", r"http://corpus\.example/([^/]+)/", 1
        ).alias("source"),
        HTML.strip_html(F.col("payload").cast("string")).alias("txt"),
    ).localCheckpoint(eager=False)
    m = Q.repetition_metrics(back, "txt", "doc_id")
    per_doc = back.join(m.select(F.col("id").alias("doc_id"), "keep"), "doc_id")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum(F.octet_length("txt")).cast("bigint").alias("total_octets"),
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("doc_id", "txt"))),
                        lambda s: s["txt"],
                    ),
                ).cast("binary")
            ).alias("corpus_md5"),
        )
        .orderBy("source")
    )


_RAW_URL_SQL = (
    "('HTTPS://User:Pw@WWW.Example' || CAST(doc_id % 7 AS VARCHAR) || '.COM'"
    " || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN '' ELSE"
    " '/Docs/Item' || CAST(doc_id % 50 AS VARCHAR) END"
    " || CASE WHEN doc_id % 2 = 0 THEN '?utm_source=crawler&b=2&a=1'"
    " ELSE '?a=1&b=2' END"
    " || '#sect' || CAST(doc_id % 5 AS VARCHAR))"
)


@query(
    "url_dedup_accounting",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
    ),
    norm AS (
      SELECT doc_id, {URL.url_normalize_sql("url")} AS url_norm,
             {URL.url_host_sql("url")} AS host
      FROM raw
    ),
    canon AS (
      SELECT host, url_norm, COUNT(*) AS n_fetches,
             MIN(doc_id) AS keep_doc_id
      FROM norm GROUP BY host, url_norm
    )
    SELECT host,
           CAST(SUM(n_fetches) AS BIGINT) AS n_docs,
           COUNT(*) AS n_urls,
           CAST(SUM(n_fetches) - COUNT(*) AS BIGINT) AS n_dup_docs,
           MIN(url_norm) AS sample_url,
           CAST(SUM(keep_doc_id) AS BIGINT) AS keep_id_sum
    FROM canon GROUP BY host ORDER BY host
    """,
)
def url_dedup_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup (functions/url.py) — the CCNet/RefinedWeb
    step that precedes content hashing: canonicalize (lowercase scheme +
    host, drop userinfo/default port/fragment/tracking params, sort the
    query string, empty path -> '/'), keep the min doc id per canonical
    URL, and account per host. The fixture URLs are synthesized
    identically in both engines with case noise, ':443', userinfo,
    tracking params, and shuffled param order, so a green row certifies
    every normalization rule byte-for-byte: a missed lowercase, an
    unsorted param, or a kept utm_* changes n_urls/sample_url, and a
    wrong keep-min changes keep_id_sum. One projection + two short-key
    hash aggregations; no UDF, no pre-agg shuffle beyond the dedup key."""
    d = load(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://User:Pw@WWW.Example"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".COM"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit("")).otherwise(
                F.concat(F.lit("/Docs/Item"), (F.col("doc_id") % 50).cast("string"))
            ),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit("?utm_source=crawler&b=2&a=1")
            ).otherwise(F.lit("?a=1&b=2")),
            F.lit("#sect"),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("url"),
    )
    norm = raw.select(
        "doc_id",
        URL.url_normalize("url").alias("url_norm"),
        URL.url_host("url").alias("host"),
    )
    canon = norm.groupBy("host", "url_norm").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.min("doc_id").alias("keep_doc_id"),
    )
    return (
        canon.groupBy("host")
        .agg(
            F.sum("n_fetches").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).alias("n_urls"),
            (F.sum("n_fetches") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("n_dup_docs"),
            F.min("url_norm").alias("sample_url"),
            F.sum("keep_doc_id").cast("bigint").alias("keep_id_sum"),
        )
        .orderBy("host")
    )
