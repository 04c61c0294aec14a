"""Streaming crawl tier: WARC ingest → HTML→text → Gopher quality gate
as one Structured Streaming pipeline (r7 — composes the r6 crawl tier's
batch operators into the continuous form a live crawl feeds).

Shape:

- ``read_warc_stream`` — file-source streaming over a WARC directory
  (``readStream.format("binaryFile")``): new ``.warc``/``.warc.gz``
  members appearing in the directory become micro-batch rows through the
  SAME parser as the batch reader (sources/warc.py —
  ``warc_pandas_batches``), so batch and stream cannot drift.
- ``gate_crawl_records`` — the batch-agnostic per-record pipeline:
  canonicalize the target URI (functions/url.py), strip markup
  (functions/html.py, pure codegen), run the Gopher repetition gate
  (operators/quality.py). Everything is per-document — no cross-record
  state — which is exactly why it composes into ``foreachBatch``
  unchanged.
- ``start_crawl_corpus_sink`` — foreachBatch: gate the micro-batch, then
  upsert by canonical URI into a parquet corpus snapshot (the
  read-merge-overwrite cycle of sinks.start_upsert_parquet_sink, torn
  snapshots treated as absent via ``snapshot_ready``). Exactly-once by
  key under the replay contract: a replayed batch re-upserts the same
  URIs — idempotent. Re-crawls of a URI take the latest fetch.

100 TB shape: the file source lists incrementally and checkpoints
progress, one gzip member = one task (Common Crawl's shipped layout);
the gate is one explode + two doc-keyed hash-aggs per micro-batch; the
snapshot merge is one key shuffle. For corpus-scale snapshots the
parquet overwrite becomes the bottleneck — swap the sink body for a
MERGE INTO on a table format (Delta/Iceberg) outside this container;
the gate and reader need no change.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from rippledb_engine.functions.html import strip_html
from rippledb_engine.functions.url import url_normalize
from rippledb_engine.operators._itergc import (
    persistent_rdd_ids,
    unpersist_rdd_ids,
)
from rippledb_engine.operators.quality import repetition_metrics
from rippledb_engine.sources.warc import WARC_SCHEMA, warc_pandas_batches
from rippledb_engine.streaming.sinks import snapshot_ready

BINARY_FILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)

CORPUS_COLS = [
    "uri",
    "warc_date",
    "text",
    "n_words",
    "mean_word_len",
    "top2_frac",
    "dup5_frac",
    "keep",
]


def read_warc_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming WARC reader: the batch reader's parser behind a
    file-source stream (new members in ``path`` arrive as micro-batches;
    one task per member, .gz transparent)."""
    files = (
        spark.readStream.format("binaryFile")
        # the binaryFile source's FIXED schema — streaming sources don't
        # infer, so it must be spelled
        .schema(BINARY_FILE_SCHEMA)
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)


def gate_crawl_records(warc_df: DataFrame) -> DataFrame:
    """WARC records → gated corpus rows (CORPUS_COLS): canonical URI,
    markup-stripped text, Gopher repetition metrics + keep decision.
    Pure per-document work — runs identically on a batch read and inside
    a foreachBatch micro-batch (the batch-twin equivalence pinned by
    tests/test_streaming.py). Records without a canonicalizable URI
    (non-HTTP schemes) are dropped, like the crawl-frontier dedup."""
    docs = (
        warc_df.select(
            url_normalize("target_uri").alias("uri"),
            "warc_date",
            strip_html(F.col("payload").cast("string")).alias("text"),
        )
        .where(F.col("uri").isNotNull())
        # one fetch per canonical URI per batch: ONE struct max keeps the
        # (date, text) of a single real fetch together (independent mins
        # could pair one fetch's date with another's text), and
        # latest-fetch-wins matches the sink's cross-batch upsert policy,
        # so duplicates collapse to the same row whether they share a
        # micro-batch or span two (ties on warc_date break on text)
        .groupBy("uri")
        .agg(F.max(F.struct("warc_date", "text")).alias("__f"))
        .select("uri", F.col("__f.warc_date").alias("warc_date"),
                F.col("__f.text").alias("text"))
    )
    m = repetition_metrics(docs, "text", "uri")
    return docs.join(
        m.select(
            F.col("id").alias("uri"),
            "n_words",
            "mean_word_len",
            "top2_frac",
            "dup5_frac",
            "keep",
        ),
        "uri",
    ).select(*CORPUS_COLS)


def apply_classifier_gate(corpus: DataFrame, model: DataFrame) -> DataFrame:
    """Override the Gopher rule-based ``keep`` with a FROZEN trained
    quality classifier (r11 — operators/classifier.py): featurize each
    row's stripped text (hashed_text_features, the same 12-dim chain
    the certified training queries use) and keep = the model's exp-free
    sign test. The metrics columns stay (informative); only the
    decision changes. Pure per-document work + one broadcast of the
    12-vector — composes into foreachBatch exactly like the rule gate,
    and the streaming == batch twin is pinned in test_streaming."""
    from rippledb_engine.operators.classifier import (
        TEXT_FEATURE_DIMS,
        hashed_text_features,
        logistic_predict,
    )

    feats = hashed_text_features(
        corpus.select("uri", "text"), "text", "uri"
    )
    scores = logistic_predict(
        feats, "x", "uri", model, TEXT_FEATURE_DIMS
    ).select("uri", F.col("keep").alias("__keep_clf"))
    return (
        corpus.drop("keep")
        .join(scores, "uri")
        .withColumn("keep", F.col("__keep_clf"))
        .select(*CORPUS_COLS)
    )


def apply_langid_gate(
    corpus: DataFrame,
    model: DataFrame,
    allowed: tuple[int, ...] = (0,),
    dims: int = 16,
    k: int = 4,
) -> DataFrame:
    """AND a FROZEN trained language-ID gate into ``keep`` (r12 —
    operators/langid.py): featurize each row's stripped text with the
    same char-ngram hashing the certified training queries use, argmax
    the broadcast flat K·d weights, and keep only rows whose predicted
    language is in ``allowed`` — ANDed on top of whatever quality
    decision already stands (rule-based or trained), giving the CCNet
    language×quality composition. Pure per-document work + one
    broadcast; composes
    into foreachBatch exactly like the quality gate, and the streaming
    == batch twin is pinned in test_streaming."""
    from rippledb_engine.operators.langid import (
        char_ngram_hash_features,
        softmax_predict,
    )

    feats = char_ngram_hash_features(
        corpus.select("uri", F.coalesce("text", F.lit("")).alias("text")),
        "text",
        "uri",
        dims=dims,
    )
    pred = softmax_predict(feats, "x", "uri", model, dims, k)
    return (
        corpus.join(pred, "uri")
        .withColumn(
            "keep",
            F.col("keep") & F.col("pred").isin(*[int(a) for a in allowed]),
        )
        .select(*CORPUS_COLS)
    )


# <script type="application/ld+json"> islands — the way schema.org
# structured data ships inside crawled HTML. Java regex, (?is) =
# case-insensitive + DOTALL so islands span lines; group 1 is the body.
JSONLD_SCRIPT_RE = (
    r"(?is)<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>"
    r"(.*?)</script>"
)


def extract_jsonld_triples(warc_df: DataFrame) -> DataFrame:
    """Gated pages → the RDF triples of their embedded JSON-LD islands
    (r8 — the structured-data half of a crawl pipeline, beside the text
    corpus): per fetch, run the Gopher gate on the stripped text, and for
    fetches that PASS, regex out every ``application/ld+json`` script
    island (codegen ``regexp_extract_all``) and parse it with the
    sources/jsonld.py flattening parser inside Arrow ``mapInPandas``.

    Batch-agnostic BY CONSTRUCTION — every decision reads one fetch's own
    bytes (gate on its own text, islands from its own HTML), and triples
    carry set semantics downstream — so any micro-batch split or replay
    unions to the same triple set as one batch run (the equivalence
    tests/test_streaming.py pins). Two crawl-robustness policies, both
    deliberate: a malformed island is DROPPED (one broken page must not
    kill a 100 TB stream — unlike the loud file-level readers, which
    parse trusted exports), and blank-node labels are rescoped per fetch
    (``_:u<md5(uri)[:8]>…`` on top of the parser's content-addressed
    labels), so anonymous nodes from different pages can never collide
    while replays still reproduce identical labels.

    100 TB shape: one codegen projection (strip + gate + regex), one
    Arrow kernel where the HTML lives; no driver loop, no per-row UDF;
    output is TRIPLES_SCHEMA ready for TripleStore.from_df."""
    import hashlib

    import pandas as pd

    from rippledb_spark import model
    from rippledb_spark.sources.jsonld import parse_jsonld
    from rippledb_spark.errors import RdfParseError

    recs = warc_df.select(
        url_normalize("target_uri").alias("uri"),
        F.col("payload").cast("string").alias("__html"),
    ).where(F.col("uri").isNotNull())
    # per-FETCH gate (not per-URI winner): keeps the stage batch-agnostic
    recs = recs.withColumn("__fid", F.md5(F.concat("uri", "__html")))
    m = repetition_metrics(
        recs.select("__fid", strip_html(F.col("__html")).alias("__text")),
        "__text",
        "__fid",
    )
    kept = recs.join(
        m.where(F.col("keep")).select(F.col("id").alias("__fid")),
        "__fid",
        "left_semi",
    )
    islands = kept.select(
        "uri",
        F.explode(
            F.regexp_extract_all("__html", F.lit(JSONLD_SCRIPT_RE), 1)
        ).alias("__island"),
    )

    cols = [f.name for f in model.TRIPLES_SCHEMA.fields]
    blank_i = {c: i for i, c in enumerate(cols)}

    def parse_batch(batches):
        for pdf in batches:
            out: list[tuple] = []
            for uri, island in zip(pdf["uri"], pdf["__island"]):
                try:
                    rows = parse_jsonld(island)
                except RdfParseError:
                    continue  # crawl policy: drop the broken island
                scope = hashlib.md5(uri.encode("utf-8")).hexdigest()[:8]
                for r in rows:
                    r = list(r)
                    if r[blank_i["s_kind"]] == model.BLANK:
                        r[blank_i["s"]] = _rescope(r[blank_i["s"]], scope)
                    if r[blank_i["o_kind"]] == model.BLANK:
                        r[blank_i["o_value"]] = _rescope(
                            r[blank_i["o_value"]], scope
                        )
                    out.append(tuple(r))
            yield pd.DataFrame(out, columns=cols)

    return islands.mapInPandas(parse_batch, schema=model.TRIPLES_SCHEMA)


def _rescope(label: str, scope: str) -> str:
    """Blank label → fetch-scoped label (document-scoped blank nodes)."""
    bare = label[2:] if label.startswith("_:") else label
    return f"_:u{scope}_{bare}"


def corpus_text_embedding(df: DataFrame, dims: int = 16) -> DataFrame:
    """Corpus rows (uri, text) → (uri, emb): a DETERMINISTIC
    feature-hashing text embedding (the hashing trick, Weinberger et al.
    2009 — the embedding a pipeline computes when no model is in the
    loop): each word adds ±1 to the dimension ``xxhash64(word) % dims``,
    sign from a second hash. Pure codegen column expressions — no UDF,
    no RNG, no model weights — so the SAME text embeds identically in a
    micro-batch and in the batch twin, which is what lets the
    incremental PQ-codes snapshot below be compared row-for-row against
    a batch encoding. dims stays small (the PQ codebook compresses it
    anyway); cost is O(dims × words) per doc, all inside one projection."""
    words = F.split(F.col("text"), " ")
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dims - 1)),
        lambda j: F.aggregate(
            words,
            F.lit(0.0),
            lambda acc, w: acc
            + F.when(
                F.pmod(F.xxhash64(w), F.lit(dims)) == j,
                F.lit(1.0)
                - F.lit(2.0)
                * F.pmod(F.xxhash64(w, F.lit(7)), F.lit(2)).cast("double"),
            ).otherwise(F.lit(0.0)),
        ),
    )
    return df.select("uri", emb.alias("emb"))


def train_crawl_pq_books(
    corpus: DataFrame, dims: int = 16, m: int = 2, k: int = 4,
    iterations: int = 2,
) -> DataFrame:
    """Train the crawl index's PQ codebooks ONCE on a corpus snapshot
    (kept rows only) — the production pattern: the codebook is fit on a
    bounded sample and then FROZEN, because retraining per batch would
    shift every existing vector's codes under the index. → (s, cid, c),
    pq_codes' books frame, eagerly checkpointed so the foreachBatch
    closure reuses it without recomputation."""
    from rippledb_engine.operators.pq import pq_codes

    emb = corpus_text_embedding(corpus.where(F.col("keep")), dims=dims)
    _, books = pq_codes(emb, "emb", "uri", dims, m=m, k=k,
                        iterations=iterations)
    return books.localCheckpoint(eager=True)


def train_crawl_ivfpq_index(
    corpus: DataFrame, dims: int = 16, ncells: int = 4, m: int = 2,
    k: int = 4, iterations: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train the ROUTED crawl index once (coarse cells + shared residual
    codebooks — operators/pq.ivfpq_index) on a corpus snapshot's kept
    rows; → (coarse, books), both eagerly checkpointed for reuse inside
    the foreachBatch closure. Same freeze-after-training contract as
    :func:`train_crawl_pq_books`."""
    from rippledb_engine.operators.pq import ivfpq_index

    emb = corpus_text_embedding(corpus.where(F.col("keep")), dims=dims)
    _, coarse, _, books = ivfpq_index(
        emb, "emb", "uri", dims, ncells=ncells, m=m, k=k,
        iterations=iterations,
    )
    return (
        coarse.localCheckpoint(eager=True),
        books.localCheckpoint(eager=True),
    )


def train_crawl_rotated_index(
    corpus: DataFrame, dims: int = 16, r: int = 8, m: int = 2, k: int = 4,
    iterations: int = 2, pca_iterations: int = 4,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the ROTATED crawl index once (r12 — OPQ-lite rotation in
    front of the flat PQ codebooks, operators/opq.train_rotated_index)
    on a corpus snapshot's kept rows; → (means, comps, books), each
    eagerly checkpointed for reuse inside the foreachBatch closure.
    Same freeze-after-training contract as the other trainers: the
    rotation origin (means) and basis (comps) NEVER move once frozen —
    every future batch rotates through rotate_with_frozen, so the codes
    the sink maintains and the queries rotated_query_topk serves live
    in one fixed space."""
    from rippledb_engine.operators.opq import train_rotated_index

    emb = corpus_text_embedding(corpus.where(F.col("keep")), dims=dims)
    means, comps, _, books = train_rotated_index(
        emb, "emb", "uri", dims, r=r, m=m, k=k,
        iterations=iterations, pca_iterations=pca_iterations,
    )
    return (
        means.localCheckpoint(eager=True),
        comps.localCheckpoint(eager=True),
        books.localCheckpoint(eager=True),
    )


def train_crawl_alternating_index(
    corpus: DataFrame, dims: int = 16, r: int = 8, m: int = 2, k: int = 4,
    iterations: int = 2, pca_iterations: int = 4, rounds: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the FULL-OPQ crawl index once (r12 — the alternating
    sibling of train_crawl_rotated_index): → (means, comps, givens,
    books), each eagerly checkpointed. ``givens`` is the per-round
    rotation trajectory the sink persists beside the index and replays
    (via opq.apply_frozen_rotations) when encoding every future batch —
    the same freeze-after-training contract as the other trainers."""
    from rippledb_engine.operators.opq import train_alternating_index

    emb = corpus_text_embedding(corpus.where(F.col("keep")), dims=dims)
    means, comps, givens, _, books = train_alternating_index(
        emb, "emb", "uri", dims, r=r, m=m, k=k,
        iterations=iterations, pca_iterations=pca_iterations,
        rounds=rounds,
    )
    return (
        means.localCheckpoint(eager=True),
        comps.localCheckpoint(eager=True),
        givens.localCheckpoint(eager=True),
        books.localCheckpoint(eager=True),
    )


def crawl_accounting(corpus: DataFrame) -> DataFrame:
    """Per-host accounting of a gated corpus — the report a filtering
    run emits per crawl segment (host = the URI's authority)."""
    return (
        corpus.select(
            F.regexp_extract("uri", r"^https?://([^/]+)", 1).alias("host"),
            "n_words",
            "keep",
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        )
        .orderBy("host")
    )


def start_crawl_corpus_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    triples_path: str | None = None,
    media_path: str | None = None,
    media_dedup_path: str | None = None,
    pq_path: str | None = None,
    pq_books: DataFrame | None = None,
    pq_dims: int = 16,
    pq_m: int = 2,
    pq_coarse: DataFrame | None = None,
    pq_rotation: tuple[DataFrame, DataFrame] | None = None,
    pq_r: int = 8,
    pq_givens: DataFrame | None = None,
    frontier_path: str | None = None,
    frontier_redirects: DataFrame | None = None,
    frontier_robots: DataFrame | None = None,
    frontier_max_hops: int = 16,
    quality_model: DataFrame | None = None,
    langid_model: DataFrame | None = None,
    langid_allowed: tuple[int, ...] = (0,),
    langid_dims: int = 16,
    langid_k: int = 4,
):
    """Start the foreachBatch crawl pipeline: gate each WARC micro-batch
    (gate_crawl_records) and upsert by canonical URI into the parquet
    corpus snapshot at ``path``. With ``triples_path`` set, the SAME
    foreachBatch additionally extracts each batch's embedded JSON-LD
    islands (extract_jsonld_triples) and set-merges them into a
    TRIPLES_SCHEMA snapshot there — a TripleStore.from_df-queryable
    graph growing beside the text corpus (r8). With ``media_path`` set,
    it also decodes each batch's media fetches (crawl_media_features:
    PNG/GIF/JPEG/WAV/AVI by Content-Type) into a feature snapshot.
    With ``media_dedup_path`` set (r14), the SAME foreachBatch runs the
    perceptual/audio dedup SCREEN beside the text gates: each batch's
    media fetches are fingerprinted (crawl_media_hashes — dispatched
    aHash / audio frame-energy / video temporal aHash, keyed by
    canonical URI), merged into a ``/hashes`` snapshot, and the global
    drop decision (imagehash.near_dup_drops_by_kind, min-URI-keeps over
    banded Hamming pairs per modality) is re-derived from the full
    snapshot into ``/drops`` — so the final state equals the batch twin
    under any batch split or replay.
    With ``pq_path`` + ``pq_books`` set (r9), it maintains a PQ-codes
    ANN snapshot beside the corpus — exactly how production keeps
    vector search fresh: the codebook (train_crawl_pq_books) is trained
    ONCE and frozen; each batch embeds only its own kept winners
    (corpus_text_embedding, deterministic) and pq_encode's broadcast
    assign writes their codes, replacing any prior codes for the
    touched URIs. Codes are derived from the MERGED corpus row (the
    struct-max winner), not the raw fetch, so the codes snapshot always
    equals a batch encoding of the corpus snapshot — under replays,
    batch splits, and out-of-order re-fetches alike. With ``pq_coarse``
    additionally set (train_crawl_ivfpq_index), each batch ROUTES its
    vectors to coarse cells and encodes residuals (ivfpq_encode), and
    ``pq_path`` becomes a FIRST-CLASS index store (r10 — the
    operators/pq save/load layout): codes partitionBy("cell") under
    ``pq_path/codes`` (pid = the uri), frozen coarse/books beside them
    — so ``pq.load_index(spark, pq_path)`` + ``pq.ivfpq_query_topk``
    serve partition-pruned ANN straight off the crawl snapshot, kept
    fresh incrementally. With ``frontier_path`` + ``frontier_redirects``
    + ``frontier_robots`` set (r10), the SAME foreachBatch also
    maintains the crawl FRONTIER beside the corpus: each batch's raw
    html yields links (operators/frontier.py: extract → resolve →
    canonicalize → frozen-redirect-map fold → robots gate), and the
    allowed final addresses set-merge into a (host, url) snapshot —
    the next crawl segment's fetch list, deduplicated at the terminal
    address so two links into one redirect chain fetch once.
    With ``quality_model`` set (r11), the keep decision comes from the
    FROZEN trained classifier (apply_classifier_gate) instead of the
    Gopher rules — train once on labeled data, gate the stream forever.
    With ``langid_model`` set (r12), the frozen softmax lang-ID model
    additionally ANDs its language decision into keep
    (apply_langid_gate — the CCNet language×quality composition). With
    ``pq_rotation`` set (r12, a (means, comps) pair from
    train_crawl_rotated_index), the ANN snapshot is the ROTATED-PQ
    variant: batches rotate through the frozen basis before encoding
    and ``pq_path`` persists in the opq.load_rotated_index layout.
    Both side-merges are union + dropDuplicates on the full row/key:
    idempotent under replay and batch-split-invariant because the
    extraction itself is per-fetch. Returns the StreamingQuery.

    Exactly-once by key: foreachBatch replays re-upsert the same URIs
    (idempotent), torn overwrites read as absent and the replayed batch
    rebuilds (snapshot_ready's contract, shared with the other sinks).

    Duplicate policy — ONE rule at both granularities: the fetch with the
    greatest (warc_date, text) struct wins, within a micro-batch
    (gate_crawl_records) AND across batches (the merge below keeps the
    struct-max row per URI over snapshot ∪ batch). That makes the final
    snapshot equal to the batch twin run over all members at once, no
    matter how fetches of one URI split across micro-batches or what
    order the file source lists them in — and the merge stays one key
    shuffle, same as merge_upsert."""

    if pq_path is not None and pq_books is None:
        raise ValueError(
            "pq_path requires pq_books — train once with "
            "train_crawl_pq_books and pass the frozen codebook"
        )
    if pq_rotation is not None and pq_coarse is not None:
        raise ValueError(
            "pq_rotation and pq_coarse are mutually exclusive — the "
            "rotated index is the flat-PQ variant (rotated IVF routing "
            "is not offered; pick one)"
        )
    if pq_givens is not None and pq_rotation is None:
        raise ValueError(
            "pq_givens requires pq_rotation — the Givens trajectory "
            "refines the PCA rotation, it cannot stand alone"
        )
    if pq_rotation is not None:
        # freeze the rotation once (the pq_books pattern): every batch
        # rotates through the SAME origin and basis
        pq_rotation = (
            pq_rotation[0].localCheckpoint(eager=True),
            pq_rotation[1].localCheckpoint(eager=True),
        )
    if pq_givens is not None:
        pq_givens = pq_givens.localCheckpoint(eager=True)
    frontier_map = None
    if frontier_path is not None:
        if frontier_redirects is None or frontier_robots is None:
            raise ValueError(
                "frontier_path requires frontier_redirects and "
                "frontier_robots — the redirect map and robots files are "
                "frozen inputs, like the PQ codebooks"
            )
        from rippledb_engine.operators.redirects import (
            resolve_redirect_chains,
        )

        # resolve the frozen redirect map ONCE at setup; every
        # micro-batch re-applies the resolved table (the pq_books
        # freeze-after-training pattern)
        frontier_map = resolve_redirect_chains(
            frontier_redirects, max_hops=frontier_max_hops
        ).localCheckpoint(eager=True)

    if quality_model is not None:
        # freeze the model frame once (the pq_books pattern): every
        # micro-batch broadcasts the same 1-row weights
        quality_model = quality_model.localCheckpoint(eager=True)
    if langid_model is not None:
        langid_model = langid_model.localCheckpoint(eager=True)

    def _gate_and_merge(batch_df: DataFrame, batch_id: int) -> None:
        # Deterministic block release per micro-batch (r15, ADVICE): every
        # branch below eagerly localCheckpoints frames that are superseded
        # the moment their parquet write returns (next batch re-reads the
        # snapshot from parquet) — but localCheckpoint has no public
        # unpersist handle, so over a long-running stream the dead blocks
        # accumulate until a driver GC lets the context cleaner run (the
        # same nondeterministic-release residual CheckpointRotator removed
        # from the trainers). foreachBatch runs batches serially, so the
        # created-ids diff attributes exactly this batch's blocks.
        spark = batch_df.sparkSession
        base = persistent_rdd_ids(spark)
        try:
            _merge_batch(batch_df, batch_id)
        finally:
            unpersist_rdd_ids(spark, persistent_rdd_ids(spark) - base)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        gated = gate_crawl_records(batch_df)
        if quality_model is not None:
            # the quality gate REPLACES keep, so it must run before the
            # langid gate (which ANDs into keep) — the conjunction is
            # the CCNet language×quality composition either way
            gated = apply_classifier_gate(gated, quality_model)
        if langid_model is not None:
            gated = apply_langid_gate(
                gated, langid_model, langid_allowed, langid_dims, langid_k
            )
        if snapshot_ready(spark, path):
            target = spark.read.parquet(path)
            rest = [c for c in CORPUS_COLS if c != "uri"]
            merged = (
                target.select(*CORPUS_COLS)
                .unionByName(gated.select(*CORPUS_COLS))
                # struct comparison hits warc_date then text first; the
                # metric fields are functions of text, so the winner is a
                # single real fetch's intact row
                .groupBy("uri")
                .agg(F.max(F.struct(*rest)).alias("__r"))
                .select("uri", *[F.col(f"__r.{c}").alias(c) for c in rest])
            )
        else:
            merged = gated
        merged = merged.localCheckpoint(eager=True)
        merged.write.mode("overwrite").parquet(path)
        if pq_path is not None:
            from rippledb_engine.operators.pq import ivfpq_encode, pq_encode

            touched = gated.select("uri").distinct()
            src = merged.join(F.broadcast(touched), "uri", "left_semi").where(
                F.col("keep")
            )
            emb = corpus_text_embedding(src, dims=pq_dims)
            if pq_coarse is not None:
                # routed form (r9; r10: persisted through the first-class
                # index store — operators/pq.save_cellcodes/load_index —
                # so pq_path IS a loadable IVF-PQ index: codes live
                # partitionBy("cell") under pq_path/codes (probed-cells
                # queries prune at the partition level), and the frozen
                # coarse/books are written beside them so
                # pq.load_index(spark, pq_path) + pq.ivfpq_query_topk
                # serve ANN straight off the crawl snapshot
                from rippledb_engine.operators.pq import (
                    load_index,
                    save_cellcodes,
                )

                assign, cds = ivfpq_encode(
                    emb, "emb", "uri", pq_coarse, pq_books,
                    dims=pq_dims, m=pq_m,
                )
                cellcodes = cds.join(assign, "pid")
                if snapshot_ready(spark, f"{pq_path}/codes"):
                    # drop every touched URI's old codes (covers
                    # re-fetches AND keep→false flips), then add fresh
                    _, _, old = load_index(spark, pq_path)
                    cellcodes = old.join(
                        F.broadcast(touched.select(F.col("uri").alias("pid"))),
                        "pid",
                        "left_anti",
                    ).unionByName(cellcodes)
                save_cellcodes(
                    pq_path, cellcodes.localCheckpoint(eager=True)
                )
                # frozen quantizers: tiny frames, rewritten per batch so
                # a torn first write can never leave a codes table
                # without its codebooks
                pq_coarse.write.mode("overwrite").parquet(f"{pq_path}/coarse")
                pq_books.write.mode("overwrite").parquet(f"{pq_path}/books")
            elif pq_rotation is not None:
                # rotated form (r12): rotate each batch's vectors with
                # the FROZEN means/basis (opq.rotate_with_frozen — the
                # same definition rotated_query_topk routes queries
                # through), PQ-encode in the R-dim rotated space, and
                # keep pq_path in the opq.save_rotated_index layout so
                # opq.load_rotated_index + rotated_query_topk serve ANN
                # straight off the crawl snapshot
                from rippledb_engine.operators.opq import (
                    apply_frozen_rotations,
                    rotate_with_frozen,
                )

                means, comps = pq_rotation
                rv = rotate_with_frozen(
                    emb, "emb", "uri", means, comps, pq_dims
                ).select(F.col("uri").alias("pid"), "rv")
                if pq_givens is not None:
                    # full-OPQ variant (r12): replay the frozen Givens
                    # trajectory round-by-round, exactly as
                    # alternating_query_topk will at serve time
                    rv = apply_frozen_rotations(rv, pq_givens, pq_r)
                codes = pq_encode(
                    rv, "rv", "pid", pq_books, dims=pq_r, m=pq_m
                )
                if snapshot_ready(spark, f"{pq_path}/codes"):
                    codes = (
                        spark.read.parquet(f"{pq_path}/codes")
                        .join(
                            F.broadcast(
                                touched.select(F.col("uri").alias("pid"))
                            ),
                            "pid",
                            "left_anti",
                        )
                        .unionByName(codes)
                    )
                (
                    codes.localCheckpoint(eager=True)
                    .write.mode("overwrite")
                    .parquet(f"{pq_path}/codes")
                )
                # frozen rotation + codebooks rewritten per batch, so a
                # torn first write can never leave codes without them
                means.write.mode("overwrite").parquet(f"{pq_path}/means")
                comps.write.mode("overwrite").parquet(f"{pq_path}/rotation")
                pq_books.write.mode("overwrite").parquet(f"{pq_path}/books")
                if pq_givens is not None:
                    pq_givens.write.mode("overwrite").parquet(
                        f"{pq_path}/givens"
                    )
            else:
                codes = pq_encode(
                    emb, "emb", "uri", pq_books, dims=pq_dims, m=pq_m
                ).select(F.col("pid").alias("uri"), "s", "cid")
                if snapshot_ready(spark, pq_path):
                    codes = (
                        spark.read.parquet(pq_path)
                        .join(F.broadcast(touched), "uri", "left_anti")
                        .unionByName(codes)
                    )
                (
                    codes.localCheckpoint(eager=True)
                    .write.mode("overwrite")
                    .parquet(pq_path)
                )
        if triples_path is not None:
            from rippledb_spark import model

            t = extract_jsonld_triples(batch_df)
            if snapshot_ready(spark, triples_path):
                t = spark.read.parquet(triples_path).unionByName(t)
            (
                t.dropDuplicates(model.TRIPLE_KEY)
                .localCheckpoint(eager=True)
                .write.mode("overwrite")
                .parquet(triples_path)
            )
        if media_dedup_path is not None:
            # perceptual/audio dedup screen (r14): maintain a HASH
            # snapshot keyed by (uri, kind) — hashes are pure functions
            # of payload bytes, so the merge (struct-max per key over
            # snapshot ∪ batch) is replay-idempotent and batch-split-
            # invariant — then derive the DROP decision from the FULL
            # merged snapshot every batch (min-URI-keeps over the banded
            # Hamming pairs, per modality). Deriving from the snapshot,
            # not the batch, is what makes the final drops table equal a
            # batch run over all members at once: the greedy keeps rule
            # is a global decision, so it must always see the global
            # hash set. At corpus scale the recompute is one banded
            # equi-join over 3-column rows; the judge-of-record twin is
            # pinned in tests/test_streaming.py.
            from rippledb_engine.operators.imagehash import (
                near_dup_drops_by_kind,
            )

            mh = crawl_media_hashes(batch_df)
            if snapshot_ready(spark, f"{media_dedup_path}/hashes"):
                mh = (
                    spark.read.parquet(f"{media_dedup_path}/hashes")
                    .unionByName(mh)
                    .groupBy("media_id", "kind")
                    .agg(
                        F.max(
                            F.struct(
                                "hash_hi", "hash_lo", "hash2_hi", "hash2_lo"
                            )
                        ).alias("__h")
                    )
                    .select(
                        "media_id",
                        "kind",
                        F.col("__h.hash_hi").alias("hash_hi"),
                        F.col("__h.hash_lo").alias("hash_lo"),
                        F.col("__h.hash2_hi").alias("hash2_hi"),
                        F.col("__h.hash2_lo").alias("hash2_lo"),
                    )
                )
            mh = mh.localCheckpoint(eager=True)
            mh.write.mode("overwrite").parquet(f"{media_dedup_path}/hashes")
            (
                near_dup_drops_by_kind(mh)
                .localCheckpoint(eager=True)
                .write.mode("overwrite")
                .parquet(f"{media_dedup_path}/drops")
            )
        if media_path is not None:
            # set-merge on the full row (features are a pure function of
            # the payload, so replays and duplicate fetches coincide)
            mrows = crawl_media_features(batch_df)
            if snapshot_ready(spark, media_path):
                mrows = spark.read.parquet(media_path).unionByName(mrows)
            (
                mrows.dropDuplicates()
                .localCheckpoint(eager=True)
                .write.mode("overwrite")
                .parquet(media_path)
            )
        if frontier_path is not None:
            # frontier snapshot (r10): extract links from each batch's
            # RAW html, fold the frozen redirect map in, gate against
            # robots, and set-merge the allowed FINAL addresses. The
            # extraction is per-fetch and the merge a distinct-by-url
            # union, so replays and batch splits coincide — same
            # idempotence argument as the media/triples side-merges.
            from rippledb_engine.functions.url import url_host
            from rippledb_engine.operators.frontier import (
                extract_frontier_links,
                gate_frontier,
                resolve_frontier,
            )

            fpages = batch_df.select(
                url_host(url_normalize("target_uri")).alias("host"),
                F.col("payload").cast("string").alias("html"),
            ).where(F.col("host").isNotNull())
            flinks = extract_frontier_links(fpages, "host", "html")
            fres = resolve_frontier(flinks, resolved_map=frontier_map)
            fr = (
                gate_frontier(fres, frontier_robots)
                .where(F.col("allowed"))
                .select("host", "url")
            )
            if snapshot_ready(spark, frontier_path):
                fr = spark.read.parquet(frontier_path).unionByName(fr)
            (
                fr.dropDuplicates(["url"])
                .localCheckpoint(eager=True)
                .write.mode("overwrite")
                .parquet(frontier_path)
            )

    writer = (
        stream_df.writeStream.foreachBatch(_gate_and_merge)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _bare_media_type(col: str):
    """Content-Type header → bare lowered media type: parameters split
    off at ';' (RFC 2045 §5.1 — 'image/png; charset=binary' labels a
    PNG), whitespace trimmed. The decode stages dispatch on the bare
    type; without this the exact-match isin filters below silently
    passed parameterized headers by — decodable media skipping the
    dedup screen while still being counted by the feature stage (r15,
    ADVICE)."""
    return F.lower(F.trim(F.element_at(F.split(F.col(col), ";"), 1)))


def crawl_media_hashes(warc_df: DataFrame) -> DataFrame:
    """Crawl records → (media_id, kind, hash_hi, hash_lo, hash2_hi,
    hash2_lo): the perceptual/audio fingerprints of every decodable
    media fetch (r14 — the dedup SCREEN the r13 sink lacked). Keyed by
    canonical URI (the hash stages are key-type-agnostic); images carry
    the format-dispatched aHash PLUS the DCT pHash from one decode
    (r15 — the strong fingerprints now ride the snapshot so the drop
    derivation can apply the confirm gates instead of deciding on the
    coarse hash alone), WAVs the dual frame-energy fingerprints, AVIs /
    MPEG-1 streams the temporal-majority video aHash (no second
    fingerprint yet — NULL fp2, which the dual gate passes through). A
    hash is a pure function of the payload bytes, so the stage is
    batch-agnostic by construction — same row whether two fetches share
    a micro-batch or span ten. Undecodable payloads drop out inside
    each stage (decode_ok = false), exactly the feature stage's
    contract."""
    from rippledb_engine.operators.audiohash import audio_fingerprints_dual
    from rippledb_engine.operators.dctphash import dual_image_hashes
    from rippledb_engine.operators.imagehash import (
        IMAGE_DECODE_TYPES,
        video_ahash,
    )

    recs = warc_df.select(
        url_normalize("target_uri").alias("media_id"),
        _bare_media_type("content_type").alias("media_type"),
        "payload",
    ).where(F.col("media_id").isNotNull())
    img = dual_image_hashes(
        recs.where(F.col("media_type").isin(*IMAGE_DECODE_TYPES))
    ).withColumn("kind", F.lit("image"))
    aud = audio_fingerprints_dual(
        recs.where(F.col("media_type").isin("audio/wav", "audio/x-wav"))
    ).withColumn("kind", F.lit("audio"))
    vid = (
        video_ahash(
            recs.where(
                F.col("media_type").isin("video/x-msvideo")
                | F.col("media_type").startswith("video/mpeg")
            )
        )
        .withColumn("hash2_hi", F.lit(None).cast("long"))
        .withColumn("hash2_lo", F.lit(None).cast("long"))
        .withColumn("kind", F.lit("video"))
    )
    return (
        img.unionByName(aud)
        .unionByName(vid)
        # one row per (uri, kind): duplicate fetches of one URI collapse
        # to the struct-max hash — deterministic and batch-split-
        # invariant, the same latest-wins shape as the corpus merge
        .groupBy("media_id", "kind")
        .agg(
            F.max(
                F.struct("hash_hi", "hash_lo", "hash2_hi", "hash2_lo")
            ).alias("__h")
        )
        .select(
            "media_id",
            "kind",
            F.col("__h.hash_hi").alias("hash_hi"),
            F.col("__h.hash_lo").alias("hash_lo"),
            F.col("__h.hash2_hi").alias("hash2_hi"),
            F.col("__h.hash2_lo").alias("hash2_lo"),
        )
    )


MEDIA_FEATURES_SCHEMA = (
    "uri string, media_type string, n_bytes bigint, decode_ok boolean,"
    " width int, height int, channels int, n_frames int,"
    " sample_rate int, n_samples int, checksum string"
)

# content types the crawl media stage decodes (everything else passes by)
_MEDIA_TYPES = (
    "image/png",
    "image/gif",
    "image/jpeg",
    "image/tiff",
    "image/bmp",  # r14: the dedup screen dispatched BMP; features now too
    "image/x-ms-bmp",
    "audio/wav",
    "audio/x-wav",
    "video/x-msvideo",
    "video/mpeg",  # r15: the dedup screen fingerprinted MPEG-1; features now too
)


def crawl_media_features(warc_df: DataFrame) -> DataFrame:
    """Crawl records → REAL decoded media features (r8): filter fetches
    whose Content-Type is a decodable media type and run the matching
    stdlib decoder (PNG/GIF/JPEG pixels-capable parsers, WAV header,
    AVI container walk — operators/multimodal.py + operators/jpeg.py)
    inside Arrow ``mapInPandas``. Corrupt or mis-labeled payloads emit
    ``decode_ok = false`` rows (one broken image must not kill a 100 TB
    stream), matching the batch feature extractor's contract. Pure
    per-record work → batch-agnostic, so the streaming sink's snapshot
    equals a batch run over the same members (pinned in
    tests/test_streaming.py)."""
    import hashlib

    import pandas as pd

    from rippledb_engine.operators.jpeg import decode_jpeg_planes
    from rippledb_engine.operators.multimodal import (
        decode_avi_frames,
        decode_gif_frames,
        decode_png_any,
        decode_tiff,
        decode_wav_header,
    )

    recs = warc_df.select(
        url_normalize("target_uri").alias("uri"),
        _bare_media_type("content_type").alias("media_type"),
        "payload",
    ).where(F.col("uri").isNotNull() & F.col("media_type").isin(*_MEDIA_TYPES))

    cols = [c.split(" ")[0] for c in MEDIA_FEATURES_SCHEMA.split(", ")]

    def decode_batch(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for uri, mt, payload in zip(
                pdf["uri"], pdf["media_type"], pdf["payload"]
            ):
                data = bytes(payload)
                row = {
                    "width": None, "height": None, "channels": None,
                    "n_frames": None, "sample_rate": None, "n_samples": None,
                }
                ok = True
                try:
                    if mt == "image/png":
                        d = decode_png_any(data)
                        row.update(width=d["width"], height=d["height"],
                                   channels=d["channels"], n_frames=1)
                    elif mt == "image/gif":
                        frames = decode_gif_frames(data)
                        row.update(
                            width=frames[0]["width"],
                            height=frames[0]["height"],
                            channels=1,
                            n_frames=len(frames),
                        )
                    elif mt == "image/jpeg":
                        d = decode_jpeg_planes(data)
                        row.update(width=d["width"], height=d["height"],
                                   channels=len(d["components"]), n_frames=1)
                    elif mt == "image/tiff":
                        d = decode_tiff(data)
                        row.update(width=d["width"], height=d["height"],
                                   channels=1, n_frames=1)
                    elif mt in ("image/bmp", "image/x-ms-bmp"):
                        from rippledb_engine.operators.multimodal import (
                            decode_bmp,
                        )

                        d = decode_bmp(data)
                        row.update(width=d["width"], height=d["height"],
                                   channels=1, n_frames=1)
                    elif mt in ("audio/wav", "audio/x-wav"):
                        rate, ch, _bits, n = decode_wav_header(data)
                        row.update(channels=ch, sample_rate=rate, n_samples=n)
                    elif mt == "video/mpeg":
                        from rippledb_engine.operators.mpeg1 import (
                            mpeg1_stream_info,
                        )

                        v = mpeg1_stream_info(data)
                        row.update(width=v["width"], height=v["height"],
                                   channels=1, n_frames=v["n_frames"])
                    else:  # video/x-msvideo
                        v = decode_avi_frames(data)
                        row.update(width=v["width"], height=v["height"],
                                   channels=1, n_frames=v["n_frames"])
                except ValueError:
                    ok = False  # crawl policy: feature row, not task death
                rows.append(
                    (
                        uri, mt, len(data), ok,
                        row["width"], row["height"], row["channels"],
                        row["n_frames"], row["sample_rate"], row["n_samples"],
                        hashlib.md5(data).hexdigest(),
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return recs.mapInPandas(decode_batch, schema=MEDIA_FEATURES_SCHEMA)
