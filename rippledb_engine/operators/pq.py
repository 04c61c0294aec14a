"""Product quantization (PQ) for ANN over embedding columns — the
codebook-compression technique production vector search runs at 100 TB
scale (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
Search", IEEE TPAMI 2011).

Method: split each d-dim vector into ``m`` contiguous subvectors, train
an independent k-means codebook per subspace (the deterministic Lloyd
trainer, operators/clustering.py — lowest-id init, fold-order distances,
6dp centroid rounding), and store each vector as ``m`` small codes. At
query time, asymmetric distance computation (ADC) precomputes one
``k``-entry lookup table per subspace (exact distance from the query's
subvector to each centroid) and estimates any stored vector's distance
as the SUM of ``m`` table lookups — the stored vectors are never read
again.

Scale shape (why PQ at 100 TB): the corpus-side state shrinks from
d×8 bytes to m codes per vector (64-dim float64 → 4 bytes at m=4/k≤256),
the query-side work is one broadcast of nq·m·k lookup entries and ONE
(query, pid)-keyed aggregation over the exploded code table — no
full-vector distance is ever computed against the corpus. Training cost
is m independent Lloyd runs over subvector slices (each the clustering
module's documented one-broadcast-per-round shape).

Determinism contract: everything inherits the clustering module's
contract, ADC sums are rounded to 6dp before ranking, and ties break on
pid — so the DuckDB oracle replays codebooks, codes, lookup tables, and
the final ranking bit-for-bit. The exact-twin flag (``in_exact_topk``)
is the CERTIFICATION form, like minhash's inverted-index twin: it
recomputes true full-dimension distances for the query set so a green
row also measures recall; production would drop that column.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rippledb_engine.functions.vector import as_double_array
from rippledb_engine.operators.clustering import (
    ROUND_DP,
    _dist2,
    kmeans_assignments_sql,
    kmeans_centroids,
)
from rippledb_engine.operators.skew import spread_for_compute

ADC_DP = 6


def _subspace_rows(full: DataFrame, dims: int, m: int) -> DataFrame:
    """(pid, v) → (pid, s, sv): one row per (vector, subspace), the
    fused-training representation — one explode instead of m scans."""
    d0 = dims // m
    return full.select(
        "pid",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("v"), s * d0 + 1, d0),
            )
        ).alias("s", "sv"),
    )


def pq_codes(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    init_books: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """→ (codes, codebooks): ``codes`` is DataFrame(pid, s, cid) — one
    row per (vector, subspace) with the vector's code; ``codebooks`` is
    DataFrame(s, cid, c) with each subspace's final-round centroids.
    ``dims`` must divide evenly into ``m`` subspaces.

    All m subspace trainings run FUSED as one Lloyd loop keyed by
    subspace (r9 — the old per-subspace chain loop paid m× the fixed
    per-job overhead, which dominated wall time: 9.8 s → ~2 s on the
    sf0.1 bench corpus): one explode to (pid, s, sv) rows, per-round
    one broadcast join against all m·k centroids filtered on s, one
    (pid, s)-keyed argmin, one (s, cid, dim)-keyed rounded mean. Each
    subspace's arithmetic is UNTOUCHED — init is still the k lowest-id
    vectors per subspace (the same pids for every s), distances the
    same fold order, ties the same cid break, means the same 6dp round
    — so codes and books are bit-identical to the chain form and the
    DuckDB twin (pq_adc_sql's per-subspace kmeans chains) still
    replays them exactly."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    # r15 (guide §2.5): the training frame is a small-bytes sample —
    # one scan split locally, and AQE would coalesce it to one
    # partition — so every Lloyd round's map side (the interpreted
    # dist2 array-folds against the broadcast codebook) serialized
    # onto one core. Hash-spread it across the session's cores at the
    # materialization boundary; keyed aggs downstream are
    # placement-independent, so codes/books are bit-identical.
    sub = spread_for_compute(
        _subspace_rows(full, dims, m), "pid", "s"
    ).localCheckpoint(eager=False)
    if init_books is not None:
        # WARM start (r12 — the OPQ alternation's monotonicity device):
        # seed every subspace from a prior (s, cid, c) codebook instead
        # of the lowest-pid vectors; Lloyd from a prior codebook can
        # only reduce quantization error
        cents = init_books.select("s", "cid", "c")
    else:
        # init: the k lowest-id vectors seed EVERY subspace (the per-s
        # init set is the same pid set), so one bounded limit feeds all m
        init = (
            full.orderBy("pid")
            .limit(k)
            .select(
                (F.row_number().over(Window.orderBy("pid")) - 1)
                .cast("bigint")
                .alias("cid"),
                "v",
            )
        )
        cents = _subspace_rows(
            init.select(F.col("cid").alias("pid"), "v"), dims, m
        ).select("s", F.col("pid").alias("cid"), F.col("sv").alias("c"))
    for _ in range(iterations - 1):
        a = sub.join(F.broadcast(cents), "s").select(
            "pid", "s", "sv", "cid", _dist2(F.col("sv"), F.col("c")).alias("d2")
        )
        assigned = (
            a.groupBy("pid", "s")
            .agg(F.min(F.struct("d2", "cid")).alias("m"), F.first("sv").alias("sv"))
            .select("pid", "s", F.col("m.cid").alias("cid"), "sv")
        )
        cents = (
            assigned.select("s", "cid", F.posexplode("sv").alias("i", "x"))
            .groupBy("s", "cid", "i")
            .agg(F.round(F.avg("x"), ROUND_DP).alias("x"))
            .groupBy("s", "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "x"))),
                    lambda st: st["x"],
                ).alias("c")
            )
        )
    cents = cents.localCheckpoint(eager=False)
    codes = (
        sub.join(F.broadcast(cents), "s")
        .select("pid", "s", "cid", _dist2(F.col("sv"), F.col("c")).alias("d2"))
        .groupBy("pid", "s")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("pid", "s", F.col("m.cid").alias("cid"))
    )
    return codes, cents.select("s", "cid", "c")


def pq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    books: DataFrame,
    dims: int,
    m: int,
) -> DataFrame:
    """Encode NEW vectors against an already-trained codebook — the
    production ingest path (train once on a sample, encode the stream
    forever; retraining per batch would shift codes under existing
    data). ``books`` is pq_codes' (s, cid, c) frame. → DataFrame(pid,
    s, cid), one broadcast assign per subspace, same argmin/tiebreak
    contract as training-time encoding, so re-encoding the training
    corpus reproduces its codes exactly."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    # fused like pq_codes (r9): one explode + one broadcast join on s
    # replaces the m-pass loop — same argmin/tiebreak per subspace
    return (
        _subspace_rows(full, dims, m)
        .join(F.broadcast(books), "s")
        .select("pid", "s", "cid", _dist2(F.col("sv"), F.col("c")).alias("d2"))
        .groupBy("pid", "s")
        .agg(F.min(F.struct("d2", "cid")).alias("m"))
        .select("pid", "s", F.col("m.cid").alias("cid"))
    )


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    topk: int = 5,
) -> DataFrame:
    """→ DataFrame(q_pid, rank, pid, adc_d2, in_exact_topk): for each of
    the ``n_queries`` lowest-id vectors, the PQ/ADC top-``topk``
    neighbors (6dp-rounded estimated distance, pid tiebreak) plus the
    certification flag marking whether each hit is also in the EXACT
    full-dimension top-``topk`` (self-verifying recall, the minhash-twin
    pattern). Self-matches are excluded on pid, not distance."""
    codes, books = pq_codes(
        df, vec_col, id_col, dims, m=m, k=k, iterations=iterations
    )
    d0 = dims // m
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    queries = full.orderBy("pid").limit(n_queries).select(
        F.col("pid").alias("q_pid"), F.col("v").alias("qv")
    )
    # per-(query, subspace, centroid) lookup table — nq·m·k rows, broadcast
    lt = queries.crossJoin(F.broadcast(books)).select(
        "q_pid",
        "s",
        "cid",
        _dist2(
            F.slice(F.col("qv"), F.col("s") * d0 + 1, d0), F.col("c")
        ).alias("lt_d2"),
    )
    est = (
        codes.join(F.broadcast(lt), ["s", "cid"])
        .where(F.col("pid") != F.col("q_pid"))
        .groupBy("q_pid", "pid")
        .agg(F.round(F.sum("lt_d2"), ADC_DP).alias("adc_d2"))
    )
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    approx = est.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= topk
    )
    # exact twin (certification): true full-dim top-k per query
    exact = (
        queries.crossJoin(full)
        .where(F.col("pid") != F.col("q_pid"))
        .select(
            "q_pid",
            "pid",
            F.round(_dist2(F.col("qv"), F.col("v")), ADC_DP).alias("x_d2"),
        )
    )
    xw = Window.partitionBy("q_pid").orderBy("x_d2", "pid")
    exact_top = (
        exact.withColumn("xr", F.row_number().over(xw))
        .where(F.col("xr") <= topk)
        .select("q_pid", "pid", F.lit(True).alias("in_exact_topk"))
    )
    return (
        approx.join(exact_top, ["q_pid", "pid"], "left")
        .select(
            "q_pid",
            "rank",
            "pid",
            "adc_d2",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("q_pid", "rank")
    )


def ivfpq_index(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int = 4,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the composed IVF-PQ index (FAISS's IndexIVFPQ shape —
    Jégou et al. 2011 §V: coarse quantizer + product quantization of the
    RESIDUAL v − centroid(cell), which is far more compressible than the
    raw vector because the coarse step has already removed the
    between-cell variance).

    → (assign, coarse, codes, books):
      assign  DataFrame(pid, cell)      inverted-list membership
      coarse  DataFrame(cell, cc)       coarse centroids (≤ ncells rows)
      codes   DataFrame(pid, s, cid)    PQ codes of the residuals
      books   DataFrame(s, cid, c)      shared residual codebooks

    The PQ codebooks are SHARED across cells (trained on all residuals,
    the FAISS default) — per-cell codebooks would be ncells× the
    training cost for marginal recall on balanced corpora. Everything
    inherits the clustering module's determinism contract (lowest-id
    init, fixed term-order distances, 6dp centroid rounding, cid/cell
    tiebreaks), so the whole index replays in DuckDB."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    # r15: spread the training sample before the coarse Lloyd loop and
    # the per-vector routing argmin (see pq_codes — same single-split /
    # AQE-coalescing serialization, guide §2.5)
    full = spread_for_compute(
        df.select(
            F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
        ),
        "pid",
    ).localCheckpoint(eager=False)
    coarse = (
        kmeans_centroids(full, "v", "pid", k=ncells, iterations=iterations)
        .select(F.col("cid").alias("cell"), F.col("c").alias("cc"))
        .localCheckpoint(eager=False)
    )
    # one broadcast argmin over the final coarse codebook (≡ the SQL
    # twin's ivc_final relation), ties to the lowest cell id
    # checkpoint the assignment and residuals: pq_codes' init/train/encode
    # paths and the caller's inverted-list join all re-read them, and an
    # unmaterialized lineage would re-run the coarse argmin each time
    assigned = (
        full.crossJoin(F.broadcast(coarse))
        .select(
            "pid", "v", "cell", _dist2(F.col("v"), F.col("cc")).alias("d2")
        )
        .groupBy("pid")
        .agg(F.min(F.struct("d2", "cell")).alias("m"), F.first("v").alias("v"))
        .select("pid", F.col("m.cell").alias("cell"), "v")
        .localCheckpoint(eager=False)
    )
    resid = assigned.join(F.broadcast(coarse), "cell").select(
        "pid",
        "cell",
        F.zip_with("v", "cc", lambda a, b: a - b).alias("r"),
    ).localCheckpoint(eager=False)
    codes, books = pq_codes(
        resid, "r", "pid", dims, m=m, k=k, iterations=iterations
    )
    return assigned.select("pid", "cell"), coarse, codes, books


def ivfpq_encode(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    coarse: DataFrame,
    books: DataFrame,
    dims: int,
    m: int,
) -> tuple[DataFrame, DataFrame]:
    """Encode NEW vectors against a FROZEN IVF-PQ index — the production
    ingest path (route once, residual-encode once; retraining would
    shift cells and codes under the existing index). ``coarse`` is
    ivfpq_index's (cell, cc) frame, ``books`` its (s, cid, c) frame.
    → (assign, codes) with the same schemas and the same
    argmin/tiebreak contract as training-time encoding, so re-encoding
    the training corpus reproduces its assignment and codes exactly."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    assigned = (
        full.crossJoin(F.broadcast(coarse))
        .select(
            "pid", "v", "cell", _dist2(F.col("v"), F.col("cc")).alias("d2")
        )
        .groupBy("pid")
        .agg(F.min(F.struct("d2", "cell")).alias("m"), F.first("v").alias("v"))
        .select("pid", F.col("m.cell").alias("cell"), "v")
    )
    resid = assigned.join(F.broadcast(coarse), "cell").select(
        "pid",
        "cell",
        F.zip_with("v", "cc", lambda a, b: a - b).alias("r"),
    )
    codes = pq_encode(resid, "r", "pid", books, dims, m)
    return assigned.select("pid", "cell"), codes


def _route_queries(
    queries: DataFrame, coarse: DataFrame, nprobe: int
) -> DataFrame:
    """Route each query to its ``nprobe`` nearest coarse cells; → one
    (q_pid, cell, qr) row per probed cell with the residual
    q − centroid(cell). The window is nq×ncells rows — always tiny."""
    pw = Window.partitionBy("q_pid").orderBy("d2", "cell")
    return (
        queries.crossJoin(F.broadcast(coarse))
        .select(
            "q_pid", "qv", "cell", "cc",
            _dist2(F.col("qv"), F.col("cc")).alias("d2"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") <= nprobe)
        .select(
            "q_pid",
            "cell",
            F.zip_with("qv", "cc", lambda a, b: a - b).alias("qr"),
        )
    )


def _adc_estimates(
    probe: DataFrame, books: DataFrame, cellcodes: DataFrame, d0: int
) -> DataFrame:
    """Routed ADC: per-(query, cell, subspace, centroid) lookup table
    (nq·nprobe·m·k rows, broadcast) joined to the code table on
    (cell, s, cid) — only codes in probed cells ever match, the
    inverted-list prune IS this equi-join key. → DataFrame(q_pid, pid,
    cell, adc_d2), one row per surviving candidate."""
    lt = probe.crossJoin(F.broadcast(books)).select(
        "q_pid",
        "cell",
        "s",
        "cid",
        _dist2(
            F.slice(F.col("qr"), F.col("s") * d0 + 1, d0), F.col("c")
        ).alias("lt_d2"),
    )
    return (
        cellcodes.join(F.broadcast(lt), ["cell", "s", "cid"])
        .where(F.col("pid") != F.col("q_pid"))
        .groupBy("q_pid", "pid")
        .agg(
            F.min("cell").alias("cell"),
            F.round(F.sum("lt_d2"), ADC_DP).alias("adc_d2"),
        )
    )


def ivfpq_query_topk(
    queries: DataFrame,
    coarse: DataFrame,
    books: DataFrame,
    cellcodes: DataFrame,
    dims: int,
    m: int,
    nprobe: int = 2,
    topk: int = 5,
) -> DataFrame:
    """Answer ANN queries against a FROZEN IVF-PQ index — the production
    serving path (train/save once, load/query forever; no training, no
    exact twin). ``queries`` is DataFrame(q_pid, qv); ``coarse``/
    ``books``/``cellcodes`` are :func:`load_index`'s frames (cellcodes =
    (cell, pid, s, cid)). → DataFrame(q_pid, rank, pid, cell, adc_d2),
    the same ADC arithmetic and tiebreaks as :func:`ivfpq_topk`'s
    approximate half.

    100 TB shape: the probed cells are collected up front (a BOUNDED
    nq·nprobe-row routing table, nothing corpus-sized) and applied as a
    LITERAL ``cell IN (...)`` filter — so when ``cellcodes`` comes from
    :func:`load_index`'s partitionBy("cell") store, the scan itself is
    pruned (PartitionFilters; pinned by
    tests/test_scale_patterns.py::test_saved_index_query_path_prunes_partitions)
    and the executors never open files outside the probed cells."""
    d0 = dims // m
    probe = _route_queries(queries, coarse, nprobe).localCheckpoint(
        eager=True
    )
    probed = sorted(
        r["cell"] for r in probe.select("cell").distinct().collect()
    )
    pruned = cellcodes.where(F.col("cell").isin(probed))
    est = _adc_estimates(probe, books, pruned, d0)
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q_pid", "rank", "pid", "cell", "adc_d2")
    )


def pq_query_topk(
    queries: DataFrame,
    books: DataFrame,
    codes: DataFrame,
    dims: int,
    m: int,
    topk: int = 5,
) -> DataFrame:
    """Answer ANN queries against FROZEN flat-PQ state — the serving
    path for :func:`pq_codes`' output (no training, no exact twin;
    :func:`ivfpq_query_topk` is the routed sibling). ``queries`` is
    DataFrame(q_pid, qv). → DataFrame(q_pid, rank, pid, adc_d2), the
    same ADC arithmetic and tiebreaks as :func:`pq_adc_topk`'s
    approximate half: one nq·m·k-row broadcast lookup table, one
    (query, pid)-keyed sum over the code table — no full vector is ever
    read."""
    d0 = dims // m
    lt = queries.crossJoin(F.broadcast(books)).select(
        "q_pid",
        "s",
        "cid",
        _dist2(
            F.slice(F.col("qv"), F.col("s") * d0 + 1, d0), F.col("c")
        ).alias("lt_d2"),
    )
    est = (
        codes.join(F.broadcast(lt), ["s", "cid"])
        .where(F.col("pid") != F.col("q_pid"))
        .groupBy("q_pid", "pid")
        .agg(F.round(F.sum("lt_d2"), ADC_DP).alias("adc_d2"))
    )
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("q_pid", "rank", "pid", "adc_d2")
    )


def save_index(
    path: str,
    assign: DataFrame,
    coarse: DataFrame,
    codes: DataFrame,
    books: DataFrame,
) -> None:
    """Persist a trained IVF-PQ index (:func:`ivfpq_index`'s four
    frames) as three parquet tables under ``path``: ``coarse/`` and
    ``books/`` (both tiny — ≤ ncells and m·k rows), and ``codes/``
    written ``partitionBy("cell")`` with columns (pid, s, cid) — the
    inverted-list layout, so a probed-cells filter prunes at the
    PARTITION level and a query reads only nprobe/ncells of the files
    (reference backup comparison: graph.rs:630-695 serializes the whole
    store as driver-side JSON; here every table is a distributed
    parquet write)."""
    coarse.write.mode("overwrite").parquet(f"{path}/coarse")
    books.write.mode("overwrite").parquet(f"{path}/books")
    save_cellcodes(path, codes.join(assign, "pid"))


def save_cellcodes(path: str, cellcodes: DataFrame) -> None:
    """Write just the code table of an index store — (pid, s, cid, cell)
    rows, ``partitionBy("cell")`` under ``path/codes``. The incremental
    path (the streaming crawl sink re-merges codes every micro-batch
    while coarse/books stay frozen) uses this directly; :func:`save_index`
    composes it."""
    (
        cellcodes.select("pid", "s", "cid", "cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/codes")
    )


def load_index(
    spark, path: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load a :func:`save_index` store → (coarse, books, cellcodes)
    ready for :func:`ivfpq_query_topk` / :func:`ivfpq_encode`. The
    partition column comes back as the inferred int type, so it is cast
    to bigint to match the in-memory frames; Catalyst unwraps the cast
    (UnwrapCastInBinaryComparison), so literal cell filters still reach
    the scan as PartitionFilters."""
    coarse = spark.read.parquet(f"{path}/coarse")
    books = spark.read.parquet(f"{path}/books")
    cellcodes = spark.read.parquet(f"{path}/codes").withColumn(
        "cell", F.col("cell").cast("bigint")
    )
    return coarse, books, cellcodes


def ivfpq_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    topk: int = 5,
) -> DataFrame:
    """→ DataFrame(q_pid, rank, pid, cell, adc_d2, in_exact_topk): for
    each of the ``n_queries`` lowest-id vectors, the IVF-PQ top-``topk``
    — the query routes to its ``nprobe`` nearest coarse cells and ADC
    runs ONLY against codes in those cells, against the residual
    q − centroid(cell) per probed cell. ``in_exact_topk`` is the
    self-verifying recall flag (true full-dimension top-k recomputed
    for the query set — the certification twin; production drops it).

    100 TB shape (what the composition buys over flat PQ): the code
    table is stored partitioned by ``cell``, so the ADC join scans
    nprobe/ncells of the corpus — scan work ∝ nprobe/ncells, NOT corpus
    size (probe receipt: tools/scale_probe_ivfpq.py). The query side is
    one nq·nprobe·m·k-row broadcast lookup table + one (query, pid)-
    keyed sum, exactly flat PQ's shape on the pruned scan."""
    assign, coarse, codes, books = ivfpq_index(
        df, vec_col, id_col, dims, ncells=ncells, m=m, k=k,
        iterations=iterations,
    )
    d0 = dims // m
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    queries = full.orderBy("pid").limit(n_queries).select(
        F.col("pid").alias("q_pid"), F.col("v").alias("qv")
    )
    probe = _route_queries(queries, coarse, nprobe)
    cellcodes = codes.join(assign, "pid")
    est = _adc_estimates(probe, books, cellcodes, d0)
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    approx = est.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= topk
    )
    exact = (
        queries.crossJoin(full)
        .where(F.col("pid") != F.col("q_pid"))
        .select(
            "q_pid",
            "pid",
            F.round(_dist2(F.col("qv"), F.col("v")), ADC_DP).alias("x_d2"),
        )
    )
    xw = Window.partitionBy("q_pid").orderBy("x_d2", "pid")
    exact_top = (
        exact.withColumn("xr", F.row_number().over(xw))
        .where(F.col("xr") <= topk)
        .select("q_pid", "pid", F.lit(True).alias("in_exact_topk"))
    )
    return (
        approx.join(exact_top, ["q_pid", "pid"], "left")
        .select(
            "q_pid",
            "rank",
            "pid",
            "cell",
            "adc_d2",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("q_pid", "rank")
    )


def ivfpq_rerank_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    shortlist: int = 15,
    topk: int = 5,
) -> DataFrame:
    """Two-stage retrieval (r10 — the production ANN answer shape,
    FAISS's refine step): IVF-PQ ADC ranks a SHORTLIST of
    ``shortlist`` ≫ ``topk`` candidates per query, those R·nq full
    vectors are fetched by pid, and the final top-``topk`` is the EXACT
    full-dimension re-rank of the shortlist. Recall becomes tunable via
    R instead of fixed by ADC quantization error — and the re-rank
    top-k provably contains every true top-k member the shortlist
    caught (true neighbors beat all non-neighbors on exact distance),
    so recall@k ≥ plain ADC's on any corpus, deterministically.

    → DataFrame(q_pid, rank, pid, cell, adc_rank, exact_d2,
    in_exact_topk): ``rank`` is the re-ranked position (6dp-rounded
    exact distance, pid tiebreak), ``adc_rank`` the candidate's
    position in the pure-ADC ordering, ``in_exact_topk`` the
    self-verifying recall flag (certification twin; production drops
    it).

    100 TB shape: the shortlist is nq·R rows — BROADCAST to the corpus
    scan, so the fetch is one broadcast semi-join (scan work ∝ corpus
    for the one projection pass, matched rows ∝ R·nq), and the exact
    arithmetic runs on R·nq rows only — never corpus×queries (probe
    receipt: tools/scale_probe_rerank.py)."""
    assign, coarse, codes, books = ivfpq_index(
        df, vec_col, id_col, dims, ncells=ncells, m=m, k=k,
        iterations=iterations,
    )
    d0 = dims // m
    full = df.select(
        F.col(id_col).alias("pid"), as_double_array(vec_col).alias("v")
    )
    queries = full.orderBy("pid").limit(n_queries).select(
        F.col("pid").alias("q_pid"), F.col("v").alias("qv")
    )
    probe = _route_queries(queries, coarse, nprobe)
    est = _adc_estimates(probe, books, codes.join(assign, "pid"), d0)
    w = Window.partitionBy("q_pid").orderBy("adc_d2", "pid")
    short = (
        est.withColumn("adc_rank", F.row_number().over(w))
        .where(F.col("adc_rank") <= shortlist)
        .select("q_pid", "pid", "cell", "adc_rank")
    )
    # fetch: ONE pass over the corpus, broadcast shortlist — the exact
    # distance is computed for R·nq rows only
    fetch = (
        full.join(F.broadcast(short), "pid")
        .join(F.broadcast(queries), "q_pid")
        .select(
            "q_pid",
            "pid",
            "cell",
            "adc_rank",
            F.round(_dist2(F.col("qv"), F.col("v")), ADC_DP).alias(
                "exact_d2"
            ),
        )
    )
    rw = Window.partitionBy("q_pid").orderBy("exact_d2", "pid")
    rr = fetch.withColumn("rank", F.row_number().over(rw)).where(
        F.col("rank") <= topk
    )
    # certification twin: true full-dimension top-k over the whole corpus
    exact = (
        queries.crossJoin(full)
        .where(F.col("pid") != F.col("q_pid"))
        .select(
            "q_pid",
            "pid",
            F.round(_dist2(F.col("qv"), F.col("v")), ADC_DP).alias("x_d2"),
        )
    )
    xw = Window.partitionBy("q_pid").orderBy("x_d2", "pid")
    exact_top = (
        exact.withColumn("xr", F.row_number().over(xw))
        .where(F.col("xr") <= topk)
        .select("q_pid", "pid", F.lit(True).alias("in_exact_topk"))
    )
    return (
        rr.join(exact_top, ["q_pid", "pid"], "left")
        .select(
            "q_pid",
            "rank",
            "pid",
            "cell",
            "adc_rank",
            "exact_d2",
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy("q_pid", "rank")
    )


def ivfpq_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    topk: int = 5,
) -> str:
    """DuckDB CTE-chain twin of :func:`ivfpq_topk`; yields a relation
    ``ivfpq_topk`` with the same six columns. One coarse k-means chain
    (prefix ``ivc``) + m residual-subspace chains (``ivq{s}``); the
    residual subtraction is an exact elementwise IEEE op in both engines
    (Spark ``zip_with`` ≡ DuckDB ``list_transform`` over an index
    range), so the chains re-enter from bit-identical inputs."""
    parts = _ivfpq_parts(
        table, vec_col, id_col, dims, ncells=ncells, nprobe=nprobe, m=m,
        k=k, iterations=iterations, n_queries=n_queries, topk=topk,
    )
    parts.append(
        f"""ivfpq_topk AS (
      SELECT a.q_pid, a.rank, a.pid, a.cell, a.adc_d2,
             (e.pid IS NOT NULL) AS in_exact_topk
      FROM iv_approx a LEFT JOIN iv_exact e
        ON e.q_pid = a.q_pid AND e.pid = a.pid
      WHERE a.rank <= {topk}
    )"""
    )
    return ",\n    ".join(parts)


def ivfpq_rerank_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int = 4,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    shortlist: int = 15,
    topk: int = 5,
) -> str:
    """DuckDB CTE-chain twin of :func:`ivfpq_rerank_topk`; yields a
    relation ``ivfpq_rerank`` with the same seven columns. Shares the
    whole index/ADC chain with :func:`ivfpq_sql` (the shortlist is
    iv_approx rows with rank ≤ R) and appends the exact-distance
    re-rank — the same _dist2 term order and 6dp round as iv_exact, so
    the re-ranked ordering replays bit-for-bit."""
    parts = _ivfpq_parts(
        table, vec_col, id_col, dims, ncells=ncells, nprobe=nprobe, m=m,
        k=k, iterations=iterations, n_queries=n_queries, topk=topk,
    )
    xd2 = (
        "(list_dot_product(q.qv, q.qv)"
        " - 2 * list_dot_product(q.qv, v.fv)"
        " + list_dot_product(v.fv, v.fv))"
    )
    parts.append(
        f"""iv_short AS (
      SELECT q_pid, pid, cell, rank AS adc_rank
      FROM iv_approx WHERE rank <= {shortlist}
    )"""
    )
    parts.append(
        f"""iv_fetch AS (
      SELECT s.q_pid, s.pid, s.cell, s.adc_rank,
             ROUND({xd2}, {ADC_DP}) AS exact_d2
      FROM iv_short s
      JOIN iv_queries q ON q.q_pid = s.q_pid
      JOIN (SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS fv
            FROM {table}) v ON v.pid = s.pid
    )"""
    )
    parts.append(
        f"""ivfpq_rerank AS (
      SELECT r.q_pid, r.rank, r.pid, r.cell, r.adc_rank, r.exact_d2,
             (e.pid IS NOT NULL) AS in_exact_topk
      FROM (
        SELECT f.*, row_number() OVER (
          PARTITION BY q_pid ORDER BY exact_d2, pid) AS rank
        FROM iv_fetch f
      ) r LEFT JOIN iv_exact e
        ON e.q_pid = r.q_pid AND e.pid = r.pid
      WHERE r.rank <= {topk}
    )"""
    )
    return ",\n    ".join(parts)


def _ivfpq_parts(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    ncells: int,
    nprobe: int,
    m: int,
    k: int,
    iterations: int,
    n_queries: int,
    topk: int,
) -> list[str]:
    """The shared IVF-PQ CTE chain (train → route → ADC → iv_approx +
    iv_exact), consumed by :func:`ivfpq_sql` and
    :func:`ivfpq_rerank_sql`."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    d0 = dims // m
    parts = [
        kmeans_assignments_sql(
            table, vec_col, id_col, dims=dims, k=ncells,
            iterations=iterations, prefix="ivc",
        )
    ]
    cbook = f"ivc_c{iterations - 1}"
    parts.append(
        f"""iv_resid AS (
      SELECT p.pid, a.cid AS cell,
             list_transform(range(1, {dims + 1}), i -> p.v[i] - c.c[i]) AS r
      FROM ivc_pts p
      JOIN ivc_final a ON a.pid = p.pid
      JOIN {cbook} c ON c.cid = a.cid
    )"""
    )
    for s in range(m):
        lo, hi = s * d0 + 1, (s + 1) * d0
        sub = f"(SELECT pid, r[{lo}:{hi}] AS sub_v FROM iv_resid)"
        parts.append(
            kmeans_assignments_sql(
                sub, "sub_v", "pid", dims=d0, k=k,
                iterations=iterations, prefix=f"ivq{s}",
            )
        )
    book_union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, c FROM ivq{s}_c{iterations - 1}"
        for s in range(m)
    )
    code_union = " UNION ALL ".join(
        f"SELECT pid, {s} AS s, cid FROM ivq{s}_final" for s in range(m)
    )
    parts.append(f"iv_books AS ({book_union})")
    parts.append(f"iv_codes AS ({code_union})")
    parts.append(
        f"""iv_queries AS (
      SELECT {id_col} AS q_pid, CAST({vec_col} AS DOUBLE[]) AS qv
      FROM {table} ORDER BY {id_col} LIMIT {n_queries}
    )"""
    )
    # EXACT term order of clustering._dist2 everywhere (order-sensitive
    # float sums; the 6dp round must not flip between engines)
    cd2 = (
        "(list_dot_product(q.qv, q.qv)"
        " - 2 * list_dot_product(q.qv, c.c)"
        " + list_dot_product(c.c, c.c))"
    )
    parts.append(
        f"""iv_probe AS (
      SELECT q_pid, cell, qr FROM (
        SELECT q.q_pid, c.cid AS cell,
               list_transform(range(1, {dims + 1}), i -> q.qv[i] - c.c[i])
                 AS qr,
               row_number() OVER (PARTITION BY q.q_pid ORDER BY {cd2}, c.cid)
                 AS rn
        FROM iv_queries q, {cbook} c
      ) WHERE rn <= {nprobe}
    )"""
    )
    ld2 = (
        "(list_dot_product(p.sub_qr, p.sub_qr)"
        " - 2 * list_dot_product(p.sub_qr, b.c)"
        " + list_dot_product(b.c, b.c))"
    )
    parts.append(
        f"""iv_lt AS (
      SELECT p.q_pid, p.cell, b.s, b.cid, {ld2} AS lt_d2
      FROM (SELECT q_pid, cell, s,
                   qr[s * {d0} + 1 : (s + 1) * {d0}] AS sub_qr
            FROM iv_probe, (SELECT UNNEST(range(0, {m})) AS s)) p
      JOIN iv_books b ON b.s = p.s
    )"""
    )
    parts.append(
        f"""iv_est AS (
      SELECT l.q_pid, c.pid, MIN(c.cell) AS cell,
             ROUND(SUM(l.lt_d2), {ADC_DP}) AS adc_d2
      FROM (SELECT cd.pid, cd.s, cd.cid, a.cid AS cell
            FROM iv_codes cd JOIN ivc_final a ON a.pid = cd.pid) c
      JOIN iv_lt l ON l.cell = c.cell AND l.s = c.s AND l.cid = c.cid
      WHERE c.pid <> l.q_pid
      GROUP BY l.q_pid, c.pid
    )"""
    )
    parts.append(
        f"""iv_approx AS (
      SELECT q_pid, pid, cell, adc_d2,
             row_number() OVER (PARTITION BY q_pid ORDER BY adc_d2, pid)
               AS rank
      FROM iv_est
    )"""
    )
    xd2 = (
        "(list_dot_product(q.qv, q.qv)"
        " - 2 * list_dot_product(q.qv, v.fv)"
        " + list_dot_product(v.fv, v.fv))"
    )
    parts.append(
        f"""iv_exact AS (
      SELECT q_pid, pid FROM (
        SELECT q.q_pid, v.pid,
               row_number() OVER (
                 PARTITION BY q.q_pid
                 ORDER BY ROUND({xd2}, {ADC_DP}), v.pid) AS xr
        FROM iv_queries q,
             (SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS fv
              FROM {table}) v
        WHERE v.pid <> q.q_pid
      ) WHERE xr <= {topk}
    )"""
    )
    return parts


def pq_adc_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dims: int,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
    n_queries: int = 3,
    topk: int = 5,
    prefix: str = "pq",
    exact_source: tuple[str, str, str] | None = None,
    init_rels: list[str] | None = None,
) -> str:
    """DuckDB CTE-chain twin of :func:`pq_adc_topk`; yields a relation
    ``{prefix}_topk`` with the same five columns. One namespaced k-means
    chain per subspace (kmeans_assignments_sql ``prefix``), codebooks
    read from each chain's final-round centroid relation.

    ``prefix`` namespaces every CTE (default ``pq`` — the historical
    names), so two chains can coexist in one oracle (the r11 rotated-
    vs-plain comparison). ``exact_source`` = (table, vec_col, id_col)
    points the EXACT certification twin at a different relation — used
    when the quantized vectors live in a transformed space (the OPQ
    rotation) but recall must be measured against true neighbors in the
    ORIGINAL space; default: same relation as the quantized input."""
    if dims % m:
        raise ValueError(f"dims {dims} not divisible into {m} subspaces")
    if init_rels is not None and len(init_rels) != m:
        raise ValueError("init_rels must name one relation per subspace")
    d0 = dims // m
    parts = []
    for s in range(m):
        lo, hi = s * d0 + 1, (s + 1) * d0
        sub = (
            f"(SELECT {id_col}, CAST({vec_col} AS DOUBLE[])[{lo}:{hi}]"
            f" AS sub_v FROM {table})"
        )
        parts.append(
            kmeans_assignments_sql(
                sub, "sub_v", id_col, dims=d0, k=k,
                iterations=iterations, prefix=f"{prefix}{s}",
                init_rel=None if init_rels is None else init_rels[s],
            )
        )
    book_union = " UNION ALL ".join(
        f"SELECT {s} AS s, cid, c FROM {prefix}{s}_c{iterations - 1}"
        for s in range(m)
    )
    code_union = " UNION ALL ".join(
        f"SELECT pid, {s} AS s, cid FROM {prefix}{s}_final" for s in range(m)
    )
    # EXACT term order of clustering._dist2 (v·v − 2·v·c + c·c): float
    # addition is order-sensitive and the 6dp round must not flip
    d2 = (
        "(list_dot_product(q.sub_q, q.sub_q)"
        " - 2 * list_dot_product(q.sub_q, b.c)"
        " + list_dot_product(b.c, b.c))"
    )
    parts.append(f"{prefix}_books AS ({book_union})")
    parts.append(f"{prefix}_codes AS ({code_union})")
    parts.append(
        f"""{prefix}_queries AS (
      SELECT {id_col} AS q_pid, CAST({vec_col} AS DOUBLE[]) AS qv
      FROM {table} ORDER BY {id_col} LIMIT {n_queries}
    )"""
    )
    parts.append(
        f"""{prefix}_lt AS (
      SELECT q.q_pid, b.s, b.cid, {d2} AS lt_d2
      FROM (SELECT q_pid, s,
                   qv[s * {d0} + 1 : (s + 1) * {d0}] AS sub_q
            FROM {prefix}_queries, (SELECT UNNEST(range(0, {m})) AS s)) q
      JOIN {prefix}_books b ON b.s = q.s
    )"""
    )
    parts.append(
        f"""{prefix}_est AS (
      SELECT l.q_pid, c.pid, ROUND(SUM(l.lt_d2), {ADC_DP}) AS adc_d2
      FROM {prefix}_codes c JOIN {prefix}_lt l ON l.s = c.s AND l.cid = c.cid
      WHERE c.pid <> l.q_pid
      GROUP BY l.q_pid, c.pid
    )"""
    )
    parts.append(
        f"""{prefix}_approx AS (
      SELECT q_pid, pid, adc_d2,
             row_number() OVER (PARTITION BY q_pid ORDER BY adc_d2, pid)
               AS rank
      FROM {prefix}_est
    )"""
    )
    xd2 = (  # _dist2(qv, v): q·q − 2·q·v + v·v, same order
        "(list_dot_product(q.qv, q.qv)"
        " - 2 * list_dot_product(q.qv, v.fv)"
        " + list_dot_product(v.fv, v.fv))"
    )
    xt, xv, xi = exact_source or (table, vec_col, id_col)
    if exact_source is not None:
        # separate query relation in the exact-twin space (same lowest-id
        # pid set as {prefix}_queries — both relations share ids)
        parts.append(
            f"""{prefix}_xqueries AS (
      SELECT {xi} AS q_pid, CAST({xv} AS DOUBLE[]) AS qv
      FROM {xt} ORDER BY {xi} LIMIT {n_queries}
    )"""
        )
    xq_rel = f"{prefix}_xqueries" if exact_source is not None else f"{prefix}_queries"
    parts.append(
        f"""{prefix}_exact AS (
      SELECT q_pid, pid FROM (
        SELECT q.q_pid, v.pid,
               row_number() OVER (
                 PARTITION BY q.q_pid
                 ORDER BY ROUND({xd2}, {ADC_DP}), v.pid) AS xr
        FROM {xq_rel} q,
             (SELECT {xi} AS pid, CAST({xv} AS DOUBLE[]) AS fv
              FROM {xt}) v
        WHERE v.pid <> q.q_pid
      ) WHERE xr <= {topk}
    )"""
    )
    parts.append(
        f"""{prefix}_topk AS (
      SELECT a.q_pid, a.rank, a.pid, a.adc_d2,
             (e.pid IS NOT NULL) AS in_exact_topk
      FROM {prefix}_approx a LEFT JOIN {prefix}_exact e
        ON e.q_pid = a.q_pid AND e.pid = a.pid
      WHERE a.rank <= {topk}
    )"""
    )
    return ",\n    ".join(parts)
