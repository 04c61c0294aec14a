"""Pipeline query batch 7 (r9), each oracle-checked end to end:

- IVF-PQ approximate nearest neighbor (Jégou et al. 2011 §V — the
  coarse-quantizer + residual product quantization composition that
  production 100 TB vector search actually runs, operators/pq.py);
- ADPCM / G.711 audio decode (operators/multimodal.py);
- forward-backward strongly connected components (operators/graph.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_engine.operators import pq as PQ
from rippledb_engine.registry import query
from rippledb_engine.tables import load

# ncells=4/nprobe=2: the probed half of the corpus is where the prune
# shows; m=8/k=16 matches the flat-PQ registered query so the two rows
# are comparable — the in_exact_topk column reports measured recall
_IVFPQ_CTE = PQ.ivfpq_sql(
    "embeddings", "embedding", "vec_id", dims=64, ncells=4, nprobe=2,
    m=8, k=16,
)


@query(
    "ivfpq_ann_topk",
    oracle=f"""
    WITH {_IVFPQ_CTE.strip()}
    SELECT q_pid, rank, pid, cell, adc_d2, in_exact_topk
    FROM ivfpq_topk ORDER BY q_pid, rank
    """,
)
def ivfpq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/pq.ivfpq_topk, r9 — the FAISS IndexIVFPQ
    composition, Jégou et al. 2011 §V): a deterministic coarse k-means
    quantizer routes every vector to a cell, product quantization
    encodes the RESIDUAL v − centroid(cell) with 8 shared codebooks, and
    the 3 lowest-id queries answer their top-5 by probing only their 2
    nearest cells — ADC never touches codes outside the probed cells,
    so scan work is ∝ nprobe/ncells of the corpus, not its size
    (probe receipt: tools/scale_probe_ivfpq.py). The in_exact_topk
    column is the self-verifying recall flag (true full-dimension top-5
    recomputed for the query set). The oracle replays the coarse chain,
    the residual subtraction, all 8 residual Lloyd chains, the probe
    routing, lookup tables, 6dp-rounded ADC sums, and the pid-tiebroken
    ranking in one DuckDB CTE chain — a green row certifies the entire
    route → compress → prune → search composition."""
    e = load(spark, sf_dir, "embeddings")
    return PQ.ivfpq_topk(
        e, "embedding", "vec_id", dims=64, ncells=4, nprobe=2, m=8, k=16
    )


from pyspark.sql import Window as _W  # noqa: E402


@query(
    "graph_scc_fwbw_event_transitions",
    oracle="""
    WITH RECURSIVE
    tr AS (
      SELECT event_type AS a,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS b
      FROM events
    ),
    cnt AS (SELECT a, b, COUNT(*) AS c FROM tr WHERE b IS NOT NULL
            GROUP BY a, b),
    tot AS (SELECT SUM(c) AS total, COUNT(*) AS n_pairs FROM cnt),
    sedges AS (
      SELECT a, b FROM cnt, tot
      WHERE 100 * c * n_pairs >= 101 * total AND a <> b
    ),
    snodes AS (SELECT a AS node FROM sedges UNION SELECT b FROM sedges),
    cl AS (
      SELECT a, b FROM sedges
      UNION
      SELECT cl.a, e.b FROM cl JOIN sedges e ON cl.b = e.a
    ),
    mut AS (
      SELECT c1.a AS u, c1.b AS v FROM cl c1
      JOIN cl c2 ON c1.a = c2.b AND c1.b = c2.a
    ),
    scc AS (
      SELECT n.node,
             LEAST(n.node, COALESCE(MIN(m.u), n.node)) AS scc
      FROM snodes n LEFT JOIN mut m ON m.v = n.node
      GROUP BY n.node
    )
    SELECT s.node, s.scc,
           CAST(COUNT(*) OVER (PARTITION BY s.scc) AS BIGINT) AS n_members
    FROM scc s ORDER BY s.node
    """,
)
def graph_scc_fwbw_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-backward SCC (operators/graph.scc_forward_backward, r9 —
    Fleischer et al. 2000 with iterated Trim, the webgraph-scale variant
    the closure form's contract names) over the SAME above-average
    event-transition graph as graph_scc_event_transitions, against the
    SAME recursive-CTE oracle: identical min-node labels from a
    completely different algorithm (O(V) coloring state + within-color
    pivot BFS, the transitive closure never materialized) is the
    strongest cross-check either implementation gets. Probe receipt for
    the closure-hostile case (giant doubling-cycle SCC):
    tools/scale_probe_scc_fwbw.py."""
    from rippledb_engine.operators.graph import scc_forward_backward

    ev = load(spark, sf_dir, "events")
    w = _W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("a"), F.lead("event_type").over(w).alias("b")
    ).where(F.col("b").isNotNull())
    cnt = tr.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_pairs")
    )
    edges = (
        cnt.crossJoin(F.broadcast(tot))
        .where(
            (100 * F.col("c") * F.col("n_pairs") >= 101 * F.col("total"))
            & (F.col("a") != F.col("b"))
        )
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
    )
    scc = scc_forward_backward(edges)
    return scc.select(
        "node",
        "scc",
        F.count(F.lit(1)).over(_W.partitionBy("scc")).cast("bigint").alias(
            "n_members"
        ),
    ).orderBy("node")


from rippledb_engine.operators import multimodal as MM  # noqa: E402
from rippledb_engine.operators.multimodal import IMA_STEP_TABLE  # noqa: E402

# --- adpcm_audio_accounting oracle (built programmatically: the IMA
# recurrence repeats the nibble expression several times) ------------------
_STEPS = "[" + ",".join(str(v) for v in IMA_STEP_TABLE) + "]"
_D = "((13 * r.doc_id + 3 * r.k) % 16)"
_DIFF = (
    f"st.step // 8"
    f" + CASE WHEN {_D} % 2 = 1 THEN st.step // 4 ELSE 0 END"
    f" + CASE WHEN ({_D} // 2) % 2 = 1 THEN st.step // 2 ELSE 0 END"
    f" + CASE WHEN ({_D} // 4) % 2 = 1 THEN st.step ELSE 0 END"
)
# G.711 closed forms over the complemented/toggled byte a (Sun g711.c):
# μ-law: a = ~byte; s = ±(((a&15)·8 + 132) << seg) ∓ 132
# A-law: a = byte ⊕ 0x55; seg-0/1 offsets 8/0x108, sign bit SET = positive
_ULAW_S = (
    "CASE WHEN a >= 128"
    " THEN 132 - (((a % 16) * 8 + 132) * (1 << ((a // 16) % 8)))"
    " ELSE (((a % 16) * 8 + 132) * (1 << ((a // 16) % 8))) - 132 END"
)
_ALAW_S = (
    "(CASE WHEN a >= 128 THEN 1 ELSE -1 END) *"
    " (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8"
    "       WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264"
    "       ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END)"
)

_ADPCM_ORACLE = f"""
    WITH RECURSIVE
    ids AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0),
    shp AS (
      SELECT doc_id, doc_id % 3 AS mode,
             CASE WHEN doc_id % 3 < 2 THEN 16 + doc_id % 33
                  ELSE 17 + 2 * (doc_id % 9) END AS n
      FROM ids
    ),
    g7 AS (
      SELECT doc_id, mode, i,
             CASE WHEN mode = 0 THEN 255 - ((23 * doc_id + 5 * i) % 256)
                  ELSE xor((29 * doc_id + 7 * i) % 256, 85) END AS a
      FROM shp, UNNEST(range(0, n)) AS q(i) WHERE mode < 2
    ),
    g7s AS (
      SELECT doc_id, i,
             CASE WHEN mode = 0 THEN {_ULAW_S} ELSE {_ALAW_S} END AS s
      FROM g7
    ),
    ima_steps AS (
      SELECT i AS idx, ({_STEPS})[i + 1] AS step FROM range(0, 89) t(i)
    ),
    imarec AS (
      SELECT doc_id, 0 AS k,
             CAST(((11 * doc_id) % 4001) - 2000 AS BIGINT) AS pred,
             doc_id % 89 AS idx, n - 1 AS nnib
      FROM shp WHERE mode = 2
      UNION ALL
      SELECT r.doc_id, r.k + 1,
             GREATEST(-32768, LEAST(32767,
               CASE WHEN {_D} >= 8 THEN r.pred - ({_DIFF})
                    ELSE r.pred + ({_DIFF}) END)),
             GREATEST(0, LEAST(88,
               r.idx + ([-1,-1,-1,-1,2,4,6,8])[({_D} % 8) + 1])),
             r.nnib
      FROM imarec r JOIN ima_steps st ON st.idx = r.idx
      WHERE r.k < r.nnib
    ),
    smp AS (
      SELECT doc_id, i, s FROM g7s
      UNION ALL
      SELECT doc_id, k AS i, pred AS s FROM imarec
    ),
    base AS (
      SELECT doc_id,
             CAST(SUM(s * s) AS BIGINT) AS total_energy,
             CAST(MAX(ABS(s)) AS BIGINT) AS max_abs
      FROM smp GROUP BY doc_id
    ),
    zc AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.s * b.s < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero_crossings
      FROM smp a JOIN smp b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY a.doc_id
    ),
    loud AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN wsum > 2000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_loud_windows
      FROM (
        SELECT doc_id, i // 16 AS w, SUM(s * s) AS wsum
        FROM smp GROUP BY doc_id, i // 16
      ) GROUP BY doc_id
    )
    SELECT s.doc_id AS media_id,
           CASE s.mode WHEN 0 THEN 'ulaw' WHEN 1 THEN 'alaw'
                ELSE 'ima' END AS codec,
           CAST(8000 AS INT) AS sample_rate,
           CAST(s.n AS BIGINT) AS n_samples,
           b.total_energy, b.max_abs,
           COALESCE(z.n_zero_crossings, 0) AS n_zero_crossings,
           l.n_loud_windows
    FROM shp s
    JOIN base b ON b.doc_id = s.doc_id
    LEFT JOIN zc z ON z.doc_id = s.doc_id
    JOIN loud l ON l.doc_id = s.doc_id
    ORDER BY media_id
"""


@query("adpcm_audio_accounting", oracle=_ADPCM_ORACLE)
def adpcm_audio_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL non-PCM audio decode (r9 — the WAV decoder's natural next
    formats, both public specs): synthesize id-deterministic G.711
    μ-law / A-law / IMA-ADPCM WAVs (format tags 7/6/0x11, codec cycling
    with the id), decode every payload back through
    operators/multimodal.decode_wav_samples (G.711 byte expansion per
    the Sun g711.c reference forms; the full IMA nibble recurrence with
    predictor/step-index clamping), and report the exact integer digests
    of the wav_audio_accounting family (energy, peak, zero crossings,
    loud windows). The oracle replays BOTH decoders over the same
    id-arithmetic encoded streams — G.711 in closed form (the
    segment/mantissa expansion is pure integer arithmetic) and IMA as a
    recursive CTE stepping the actual predictor/step-index state machine
    sample by sample — so a green row certifies every decoded sample of
    all three codecs bit-exactly. Reference comparison: n/a (no binary
    surface in the reference).

    100 TB shape: one Arrow mapInPandas where the payloads live; one
    row per clip; no shuffle before the final sort."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    media = MM.synthesize_g711_adpcm_wavs(d, "doc_id")
    return (
        MM.wav_audio_stats(media)
        .withColumn(
            "codec",
            F.when(F.col("media_id") % 3 == 0, "ulaw")
            .when(F.col("media_id") % 3 == 1, "alaw")
            .otherwise("ima"),
        )
        .select(
            "media_id", "codec", "sample_rate", "n_samples",
            "total_energy", "max_abs", "n_zero_crossings", "n_loud_windows",
        )
        .orderBy("media_id")
    )


from rippledb_engine.operators.bpe import bpe_apply_sql  # noqa: E402


@query("bpe_tokenize_accounting", oracle=bpe_apply_sql(6, 2))
def bpe_tokenize_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE with a frozen merge list (operators/bpe.apply_bpe_merges,
    r9 — the production tokenize path the learner lacked: train once,
    tokenize the stream forever, like pq_encode beside pq_codes): learn 6
    merges on the documents corpus (the already-certified trainer), then
    re-tokenize EVERY document with the frozen list — one sentinel-wrapped
    string replace per merge over the whole doc, pure expressions, zero
    shuffle — and report per-doc word/token counts plus the md5 of the
    exact final symbol string. The oracle replays learning (the unrolled
    bpe_oracle_sql stages) AND application (per-round scalar-subquery
    replaces) byte-for-byte, so a green row certifies that every merge
    landed on every word of every document in learned order. Reference
    comparison: n/a (no text surface in the reference)."""
    from rippledb_engine.operators.bpe import apply_bpe_merges, learn_bpe_merges

    d = load(spark, sf_dir, "documents")
    merges, _ = learn_bpe_merges(d, "text", n_merges=6, min_pair_count=2)
    return apply_bpe_merges(
        d, "text", "doc_id", [(a, b) for _, a, b, _ in merges]
    ).orderBy("doc_id")


from rippledb_engine.operators.redirects import (  # noqa: E402
    resolve_redirect_chains,
    resolve_redirect_chains_sql,
)

_RR_CTE = resolve_redirect_chains_sql("rr_edges", "from_url", "to_url", 16)


@query(
    "redirect_chain_resolution",
    oracle=f"""
    WITH RECURSIVE
    rr_edges AS (
      SELECT 'https://ex.org/p' || CAST(doc_id AS VARCHAR) AS from_url,
             'https://ex.org/p' || CAST(
               CASE WHEN doc_id % 16 = 15 THEN doc_id - 2
                    WHEN doc_id % 16 IN (13, 14) THEN doc_id + 1
                    ELSE doc_id - 1 END AS VARCHAR) AS to_url
      FROM documents WHERE doc_id % 16 <> 0
    ),
    {_RR_CTE.strip()}
    SELECT url, final_url, n_hops, resolved
    FROM redirects_resolved ORDER BY url
    """,
)
def redirect_chain_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP redirect-chain resolution (operators/redirects.py, r9 — the
    crawl-frontier step between URL canonicalization and fetching):
    synthesize an id-arithmetic redirect graph over the documents ids —
    every non-multiple-of-16 id redirects one step toward its group's
    multiple-of-16 terminal (chains up to 12 hops), while each group's
    13→14→15→13 trio is a planted redirect LOOP — resolve every source
    URL to its terminal with the hop count, loops flagged unresolved
    (NULL terminal, never a partial answer). The oracle replays the
    identical deterministic walk as a recursive CTE with the same
    min-target edge dedup and hop bound, so a green row certifies chain
    following, hop arithmetic, loop detection, and the terminal gate
    for every chain shape in the corpus. Reference comparison: n/a (no
    crawl surface in the reference).

    100 TB shape: state is one row per source URL; ≤ max_hops
    key-shuffled joins with checkpoint truncation and an exact empty-
    frontier early exit — never a closure."""
    d = load(spark, sf_dir, "documents")
    r = F.col("doc_id") % 16
    url = lambda c: F.concat(F.lit("https://ex.org/p"), c.cast("string"))  # noqa: E731
    edges = d.where(r != 0).select(
        url(F.col("doc_id")).alias("from_url"),
        url(
            F.when(r == 15, F.col("doc_id") - 2)
            .when(r.isin(13, 14), F.col("doc_id") + 1)
            .otherwise(F.col("doc_id") - 1)
        ).alias("to_url"),
    )
    return resolve_redirect_chains(edges, max_hops=16).orderBy("url")


@query(
    "tiff_pixel_accounting",
    oracle="""
    WITH shp AS (
      SELECT doc_id,
             CAST(5 + doc_id % 6 AS BIGINT) AS w,
             CAST(3 + doc_id % 4 AS BIGINT) AS h,
             CASE WHEN doc_id % 4 IN (0, 3) THEN 5 ELSE 0 END AS xc
      FROM documents
    ),
    px AS (
      SELECT doc_id,
             k,
             (7 * doc_id + 3 * (k // w) + xc * (k % w)) % 256 AS p
      FROM shp, UNNEST(range(0, w * h)) AS u(k)
    )
    SELECT s.doc_id AS media_id,
           CAST(MIN(s.w) AS INT) AS width,
           CAST(MIN(s.h) AS INT) AS height,
           (MIN(s.doc_id) % 2 = 1) AS packbits,
           CAST(SUM(x.p) AS BIGINT) AS pixel_sum,
           CAST(SUM((x.k + 1) * x.p) AS BIGINT) AS pixel_wsum
    FROM shp s JOIN px x ON x.doc_id = s.doc_id
    GROUP BY s.doc_id ORDER BY media_id
    """,
)
def tiff_pixel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode (operators/multimodal.decode_tiff, r9 —
    the scanned-document format, TIFF 6.0 public spec): synthesize TIFFs
    cycling uncompressed/PackBits × little/big endian × one/two strips
    with id-arithmetic pixel content, decode every payload back (byte-
    order-aware IFD walk, SHORT/LONG tags inline or via offset arrays,
    strip reassembly, PackBits §9 expansion), and report raw +
    position-weighted pixel digests. TIFF is lossless, so the oracle
    recomputes every decoded pixel in closed form: a PackBits run
    miscounted, a strip misassembled, or a big-endian IFD misread
    changes a sum, and any pixel REORDERING changes pixel_wsum. The
    corpus covers repeat-packet rows (constant), literal-packet rows
    (x-varying), and both endiannesses BY CONSTRUCTION of the id cycle
    (coprime moduli — the r8 ADVICE lesson). Reference comparison: n/a
    (no binary surface).

    100 TB shape: one Arrow mapInPandas where the payloads live; one
    row per image; no shuffle before the final sort."""
    d = load(spark, sf_dir, "documents")
    media = MM.synthesize_tiffs(d, "doc_id")
    return MM.tiff_pixel_stats(media).orderBy("media_id")


@query(
    "bmp_pixel_accounting",
    oracle="""
    WITH shp AS (
      SELECT doc_id,
             CAST(4 + doc_id % 5 AS BIGINT) AS w,
             CAST(3 + doc_id % 3 AS BIGINT) AS h
      FROM documents
    ),
    px AS (
      SELECT doc_id, k,
             (19 * doc_id + 3 * (k // w) + 7 * (k % w)) % 256 AS p
      FROM shp, UNNEST(range(0, w * h)) AS u(k)
    ),
    rgb AS (
      SELECT doc_id, k,
             (11 * doc_id + p) % 256 AS r,
             (13 * doc_id + 3 * p) % 256 AS g,
             (17 * doc_id + 5 * p) % 256 AS b
      FROM px
    )
    SELECT s.doc_id AS media_id,
           CAST(MIN(s.w) AS INT) AS width,
           CAST(MIN(s.h) AS INT) AS height,
           CAST(SUM(c.r) AS BIGINT) AS r_sum,
           CAST(SUM(c.g) AS BIGINT) AS g_sum,
           CAST(SUM(c.b) AS BIGINT) AS b_sum,
           CAST(SUM((c.k + 1) * (c.r + c.g + c.b)) AS BIGINT) AS rgb_wsum
    FROM shp s JOIN rgb c ON c.doc_id = s.doc_id
    GROUP BY s.doc_id ORDER BY media_id
    """,
)
def bmp_pixel_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL 8-bit paletted BMP decode (operators/multimodal.decode_bmp,
    r9 — the Windows DIB file format, reusing the AVI tier's RLE8
    decoder): synthesize BMPs cycling BI_RGB bottom-up / BI_RLE8 /
    top-down storage with id-arithmetic indices and a NON-grayscale
    id-keyed palette, decode every payload back (header walk, BGRA
    palette read, padded-row or RLE8 strip reassembly, storage-order
    flip), and report palette-mapped per-channel sums plus the
    position-weighted Σ(k+1)·(r+g+b). The oracle recomputes every
    decoded channel of every pixel in closed form: a flip skipped, a
    run miscounted, a padding byte leaked, or a BGRA channel swap
    changes a digest. Reference comparison: n/a (no binary surface).

    100 TB shape: one Arrow mapInPandas where the payloads live; one
    row per image; no shuffle before the final sort."""
    d = load(spark, sf_dir, "documents")
    media = MM.synthesize_bmps(d, "doc_id")
    return MM.bmp_pixel_stats(media).orderBy("media_id")


from rippledb_engine.operators import mixture as MX  # noqa: E402


@query(
    "temperature_mixture_accounting",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    agg AS (
      SELECT SUM(SQRT(CAST(n_docs AS DOUBLE))) AS t,
             SUM(n_docs) AS total
      FROM counts
    ),
    temp_mix AS (
      SELECT lang,
             n_docs,
             ROUND(SQRT(CAST(n_docs AS DOUBLE)) / t, 6) AS p,
             ROUND(2.0 * total * (SQRT(CAST(n_docs AS DOUBLE)) / t)
                   / n_docs, 6) AS epochs
      FROM counts, agg
    ),
    j AS (
      SELECT d.doc_id, d.lang, m.epochs,
             {MX.mixture_epochs_sql("m.epochs", "d.doc_id")}
      FROM documents d JOIN temp_mix m USING (lang)
    ),
    rep AS (
      SELECT lang, unnest(generate_series(1, n_copies)) AS i FROM j
    ),
    em AS (SELECT lang, COUNT(*) AS n_emitted FROM rep GROUP BY lang)
    SELECT m.lang, m.n_docs, m.p, m.epochs,
           CAST(COALESCE(e.n_emitted, 0) AS BIGINT) AS n_emitted
    FROM temp_mix m LEFT JOIN em e USING (lang)
    ORDER BY m.lang
    """,
)
def temperature_mixture_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (operators/mixture.
    temperature_mixture_weights is the generic-α operator; this query
    runs the α = 0.5 instance via IEEE sqrt, which is CORRECTLY ROUNDED
    and therefore bit-identical across engines — pow(x, α) for general
    α is only ulp-close, so the certified form pins the α every
    multilingual mix actually publishes near): per-language sampling
    probability p ∝ √n flattens the language head (Conneau et al. 2020
    §3.1, the mC4 recipe), a 2×-corpus row budget converts p into
    fractional epochs — one rounding, after the full expression, in
    both engines — and apply_mixture_epochs MATERIALIZES them (floor
    copies + one hash-gated extra per doc). Per-language p, epochs, and
    emitted counts certify temperature arithmetic, budget conversion,
    and materialization end to end. Reference comparison: n/a.

    100 TB shape: weights come from the per-source count table (one row
    per language, broadcast); materialization is projection + explode."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    agg = counts.agg(
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("t"),
        F.sum("n_docs").alias("total"),
    )
    w = counts.crossJoin(F.broadcast(agg)).select(
        "lang",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) / F.col("t"), 6).alias("p"),
        F.round(
            F.lit(2.0)
            * F.col("total")
            * (F.sqrt(F.col("n_docs").cast("double")) / F.col("t"))
            / F.col("n_docs"),
            6,
        ).alias("epochs"),
    )
    j = d.join(F.broadcast(w.select("lang", "epochs")), "lang")
    rep = MX.apply_mixture_epochs(j, "epochs", "doc_id")
    em = rep.groupBy("lang").agg(F.count(F.lit(1)).alias("n_emitted"))
    return (
        w.join(em, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "p",
            "epochs",
            F.coalesce("n_emitted", F.lit(0)).cast("bigint").alias("n_emitted"),
        )
        .orderBy("lang")
    )


from rippledb_engine.operators.packing import (  # noqa: E402
    epoch_shuffle_shards,
    epoch_shuffle_sql,
)

_ES_CTE = epoch_shuffle_sql("documents", "doc_id", n_shards=8, seed=3)


@query(
    "epoch_shuffle_accounting",
    oracle=f"""
    WITH {_ES_CTE.strip()}
    SELECT id AS doc_id, shard, pos FROM epoch_shuffle
    ORDER BY shard, pos
    """,
)
def epoch_shuffle_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (operators/packing.
    epoch_shuffle_shards, r9 — the reshuffle-every-epoch step between
    mixture materialization and packing): every document lands in a
    seed-keyed hash shard with a hash-ordered position — reproducible
    across reruns, engines, and cluster sizes BECAUSE it is a pure hash
    order, not an RNG. The oracle replays the md5 shard assignment and
    per-shard (hash, id) ordering row for row, so a green row certifies
    the complete epoch-3 deal of all 500 documents. Reference
    comparison: n/a (no pipeline surface).

    100 TB shape: one projection + one shard-keyed window; position is
    per shard (what a shard-file writer needs), never global."""
    d = load(spark, sf_dir, "documents")
    return (
        epoch_shuffle_shards(d, "doc_id", n_shards=8, seed=3)
        .select(F.col("id").alias("doc_id"), "shard", "pos")
        .orderBy("shard", "pos")
    )


from rippledb_engine.operators.quality import (  # noqa: E402
    repetition_metrics,
    repetition_metrics_sql,
)

_PP_GOPHER = repetition_metrics_sql("documents", "text", "doc_id")
_PP_BUDGET = 2048


@query(
    "pretraining_pipeline_accounting",
    oracle=f"""
    WITH {_PP_GOPHER.strip()},
    pp_kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN gopher g ON g.id = d.doc_id
      WHERE g.keep
    ),
    pp_canon AS (
      SELECT MIN(doc_id) AS doc_id FROM pp_kept GROUP BY md5(text)
    ),
    pp_docs AS (
      SELECT k.doc_id, k.lang, k.text
      FROM pp_kept k JOIN pp_canon c USING (doc_id)
    ),
    pp_counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM pp_docs GROUP BY lang
    ),
    pp_agg AS (
      SELECT SUM(SQRT(CAST(n AS DOUBLE))) AS t, SUM(n) AS total
      FROM pp_counts
    ),
    pp_w AS (
      SELECT lang,
             ROUND(2.0 * total * (SQRT(CAST(n AS DOUBLE)) / t) / n, 6)
               AS epochs
      FROM pp_counts, pp_agg
    ),
    pp_j AS (
      SELECT d.doc_id, d.text, w.epochs,
             {MX.mixture_epochs_sql("w.epochs", "d.doc_id")}
      FROM pp_docs d JOIN pp_w w USING (lang)
    ),
    pp_rep AS (
      SELECT doc_id, text,
             CAST(doc_id AS VARCHAR) || '#' || CAST(i - 1 AS VARCHAR) AS rid
      FROM (
        SELECT doc_id, text, unnest(generate_series(1, n_copies)) AS i
        FROM pp_j
      )
    ),
    {epoch_shuffle_sql("pp_rep", "rid", 8, seed=1).strip()},
    pp_tok AS (
      SELECT e.shard, e.pos,
             CAST(len(string_split(r.text, ' ')) AS BIGINT) AS n_tok
      FROM epoch_shuffle e JOIN pp_rep r ON r.rid = e.id
    ),
    pp_packed AS (
      SELECT shard, n_tok,
             COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM pp_tok
    )
    SELECT shard,
           CAST(FLOOR(cb / {_PP_BUDGET}.0) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens
    FROM pp_packed GROUP BY shard, pack_id ORDER BY shard, pack_id
    """,
)
def pretraining_pipeline_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE WHOLE PRETRAINING RECIPE AS ONE CERTIFIED QUERY (r9): Gopher
    quality gate (operators/quality.repetition_metrics) → exact dedup
    (min-id per content hash) → temperature mixture (√n sampling under
    a 2×-corpus budget, operators/mixture) → materialized fractional
    epochs (apply_mixture_epochs) → deterministic epoch shuffle into 8
    shards (operators/packing.epoch_shuffle_shards, seed 1) → fixed
    2048-token sequence packing per shard — reported per (shard, pack).
    Every stage is individually certified elsewhere; THIS row certifies
    the COMPOSITION: the keep set feeding dedup, the survivor counts
    feeding the temperature weights, the copy ids feeding the shuffle,
    and the shuffle order feeding the packer all have to line up in
    both engines for a single hash to match. Reference comparison: n/a
    (the reference has no pipeline surface).

    100 TB shape: gate = explode + doc-keyed hash-aggs; dedup = one
    content-hash shuffle; mixture weights = per-language broadcast;
    materialization = projection + explode; shuffle + packing = one
    shard-keyed window each. No stage collects; no global order —
    everything is per-shard."""
    d = load(spark, sf_dir, "documents")
    keep = (
        repetition_metrics(d, "text", "doc_id")
        .where(F.col("keep"))
        .select(F.col("id").alias("doc_id"))
    )
    kept = d.join(keep, "doc_id", "left_semi").select("doc_id", "lang", "text")
    canon = kept.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # r15 (guide §2.4): the two fan-out frames below each feed TWO
    # consumers, and Spark evaluates each consumer's subtree
    # independently — without a cut, the gate+dedup upstream re-ran per
    # consumer (the before plan carried 72 parquet scans of documents;
    # after: 2 cuts, one evaluation each — solo 8.1 → 3.8 s best-of-3).
    # Values are untouched; the bench sweeps the blocks after the run.
    docs = kept.join(canon.select("doc_id"), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    agg = counts.agg(
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("t"),
        F.sum("n").alias("total"),
    )
    w = counts.crossJoin(F.broadcast(agg)).select(
        "lang",
        F.round(
            F.lit(2.0)
            * F.col("total")
            * (F.sqrt(F.col("n").cast("double")) / F.col("t"))
            / F.col("n"),
            6,
        ).alias("epochs"),
    )
    j = docs.join(F.broadcast(w), "lang")
    rep = (
        MX.apply_mixture_epochs(j, "epochs", "doc_id")
        .withColumn(
            "rid",
            F.concat_ws(
                "#",
                F.col("doc_id").cast("string"),
                F.col("epoch_idx").cast("string"),
            ),
        )
        .localCheckpoint(eager=False)
    )
    sh = epoch_shuffle_shards(rep, "rid", 8, seed=1)
    tok = rep.select(
        F.col("rid").alias("id"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    from pyspark.sql import Window as _Wnd

    wnd = (
        _Wnd.partitionBy("shard")
        .orderBy("pos")
        .rowsBetween(_Wnd.unboundedPreceding, -1)
    )
    packed = sh.join(tok, "id").select(
        "shard",
        "n_tok",
        F.coalesce(F.sum("n_tok").over(wnd), F.lit(0)).alias("cb"),
    )
    return (
        packed.groupBy(
            "shard",
            F.floor(F.col("cb") / float(_PP_BUDGET)).cast("bigint").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
        )
        .orderBy("shard", "pack_id")
    )


from rippledb_engine.operators.dedup import shingles_sql  # noqa: E402

_LS_FRAC = (
    "(CAST(('0x' || substr(md5(CAST(grp AS VARCHAR)), 1, 6)) AS BIGINT)"
    " / 16777216.0)"
)


@query(
    "leakage_safe_split_accounting",
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
    comp AS (SELECT node, MIN(r) AS comp FROM reach GROUP BY node),
    grouped AS (
      SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS grp,
             (c.node IS NOT NULL) AS in_cluster
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    ),
    assigned AS (
      SELECT doc_id, grp, in_cluster,
             CASE WHEN {_LS_FRAC} < 0.8 THEN 'train'
                  WHEN {_LS_FRAC} < 0.9 THEN 'val'
                  ELSE 'test' END AS split
      FROM grouped
    ),
    xsplit AS (
      SELECT COUNT(*) AS n FROM pairs p
      JOIN assigned a ON a.doc_id = p.id_a
      JOIN assigned b ON b.doc_id = p.id_b
      WHERE a.split <> b.split
    )
    SELECT split,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN in_cluster THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clustered_docs,
           CAST((SELECT n FROM xsplit) AS BIGINT) AS cross_split_pairs
    FROM assigned GROUP BY split ORDER BY split
    """,
)
def leakage_safe_split_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test splitting (r9 — the data-leakage rule
    every eval pipeline must enforce: near-duplicate documents MUST land
    in the SAME split, or the test set leaks into training): near-dup
    pairs (exact 3-gram Jaccard ≥ 0.5) chain into clusters via
    min-label connected components, every document's split is decided by
    the md5 hash of its CLUSTER id (singletons hash their own id) at
    80/10/10 — so cluster members can never straddle a boundary BY
    CONSTRUCTION, which the certified ``cross_split_pairs = 0`` column
    proves on the actual pair set rather than asserting. The oracle
    replays shingling, the Jaccard gate, the recursive-CTE closure, the
    group hash, and the leakage count. Reference comparison: n/a.

    100 TB shape: the pair graph ∝ duplicates, not docs (LSH banding
    replaces the exact pair join at scale, same composition); the split
    itself is a pure hash projection — no shuffle beyond CC's rounds."""
    from rippledb_engine.operators.dedup import ngram_jaccard_pairs
    from rippledb_engine.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "text", "doc_id", shingle_n=3, threshold=0.5)
    cc = connected_components(pairs, src="id_a", dst="id_b", iterations=None)
    grouped = d.select("doc_id").join(
        cc.select(F.col("node").alias("doc_id"), "comp"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce("comp", F.col("doc_id")).alias("grp"),
        F.col("comp").isNotNull().alias("in_cluster"),
    )
    frac = (
        F.conv(F.substring(F.md5(F.col("grp").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        / F.lit(16777216.0)
    )
    assigned = grouped.withColumn(
        "split",
        F.when(frac < 0.8, "train").when(frac < 0.9, "val").otherwise("test"),
    )
    xsplit = (
        pairs.join(
            assigned.select(F.col("doc_id").alias("id_a"),
                            F.col("split").alias("__sa")), "id_a")
        .join(
            assigned.select(F.col("doc_id").alias("id_b"),
                            F.col("split").alias("__sb")), "id_b")
        .where(F.col("__sa") != F.col("__sb"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.countDistinct("grp").cast("bigint").alias("n_groups"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("in_cluster"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clustered_docs"),
        )
        .crossJoin(F.broadcast(xsplit))
        .withColumn("cross_split_pairs", F.col("n").cast("bigint"))
        .drop("n")
        .orderBy("split")
    )


from rippledb_engine.operators.packing import pack_by_token_budget  # noqa: E402

_PA_BUDGET = 256
_PA_SHARDS = 8


@query(
    "pack_assembly_accounting",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, text,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                  AS BIGINT) % {_PA_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    packed AS (
      SELECT lang, shard, doc_id, text, n_tok,
             CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {_PA_BUDGET}.0) AS BIGINT) AS pack_id
      FROM toks
    )
    SELECT lang, shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
           CAST(LENGTH(string_agg(text, chr(30) ORDER BY doc_id))
                AS BIGINT) AS packed_chars,
           md5(string_agg(text, chr(30) ORDER BY doc_id)) AS packed_md5
    FROM packed GROUP BY lang, shard, pack_id
    ORDER BY lang, shard, pack_id
    """,
)
def pack_assembly_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pack ASSEMBLY (r9 — the final materialization step after
    pack assignment: concatenate each pack's documents, in order, with a
    separator token, producing the byte string a training loader maps):
    documents pack per (lang, hash-shard) under a 256-token budget (the
    certified pack_by_token_budget shape), then each pack's text
    assembles as the doc_id-ordered separator join, certified by LENGTH
    and md5 of the EXACT assembled string — a document out of order,
    dropped, or assigned to the wrong pack changes the digest. The
    separator is U+001E (record separator), chr(30) in both engines.
    Reference comparison: n/a (no pipeline surface).

    100 TB shape: pack assignment is one (lang, shard)-keyed window;
    assembly is one (lang, shard, pack)-keyed sort-agg whose group size
    is bounded by the token budget — the packed artifact, not the
    corpus, is the unit of memory."""
    d = load(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    packed = pack_by_token_budget(
        d.select("doc_id", "lang", "text", n_tok.alias("n_tok")),
        token_col="n_tok",
        order_col="doc_id",
        group_cols=["lang"],
        budget=_PA_BUDGET,
        n_shards=_PA_SHARDS,
    )
    asm = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "text"))),
            lambda s: s["text"],
        ),
        "\x1e",
    )
    return (
        packed.groupBy("lang", "shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("pack_tokens"),
            F.length(asm).cast("bigint").alias("packed_chars"),
            F.md5(asm).alias("packed_md5"),
        )
        .orderBy("lang", "shard", "pack_id")
    )


from rippledb_engine.operators.retrieval import (  # noqa: E402
    bm25_topk_batch,
    bm25_topk_batch_sql,
)

# three fixed queries over the corpus vocabulary; q2 shares a term with
# q1 (the batch form must score shared terms under per-query idf sums)
_BM25_BATCH = [
    (1, "shuffle"), (1, "broadcast"),
    (2, "broadcast"), (2, "filter"), (2, "quantile"),
    (3, "window"),
]
_BM25_BATCH_VALUES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_BATCH)


@query(
    "bm25_batch_top_documents",
    oracle=f"""
    WITH {bm25_topk_batch_sql(
        "documents", "text", "doc_id",
        f"(SELECT * FROM (VALUES {_BM25_BATCH_VALUES})"
        " AS t(query_id, term))",
        topk=10).strip()}
    SELECT query_id, rank, doc_id, n_query_terms_hit, score
    FROM bm25_batch ORDER BY query_id, rank
    """,
)
def bm25_batch_top_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED BM25 retrieval (operators/retrieval.bm25_topk_batch, r9 —
    the production shape: many queries against one corpus in ONE pass):
    three fixed queries (with a shared term, so per-query idf sums are
    exercised against common tf rows) rank the documents table top-10
    each. One corpus scan gated to the union of all query terms, df and
    corpus stats broadcast, one (query, doc)-keyed sum, and a
    query-partitioned rank window — the WindowGroupLimit shape, correct
    where the single-query orderBy().limit() cannot apply. The oracle
    replays the whole batch in one CTE chain. Reference comparison: n/a
    (no text surface).

    100 TB shape: corpus work is independent of query count until the
    final broadcast join; adding queries adds broadcast rows, not
    scans."""
    d = load(spark, sf_dir, "documents")
    q = spark.createDataFrame(_BM25_BATCH, "query_id int, term string")
    return bm25_topk_batch(d, "text", "doc_id", q, topk=10).orderBy(
        "query_id", "rank"
    )
