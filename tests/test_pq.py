"""Product-quantization ANN (operators/pq.py, r8)."""

from __future__ import annotations

import duckdb
import pytest

from rippledb_engine.operators import pq as PQ


def _clustered_corpus(spark, n_per=6, dims=8):
    """Four well-separated groups in two independent subspaces,
    INTERLEAVED by pid (group = pid % 4) so the trainer's lowest-id init
    seeds one centroid per group: PQ with m=2 then reconstructs group
    membership exactly and recall is perfect."""
    rows = []
    corners = [(0.0, 0.0), (0.0, 9.0), (9.0, 0.0), (9.0, 9.0)]
    for pid in range(4 * n_per):
        cx, cy = corners[pid % 4]
        jitter = 0.01 * (pid // 4 + 1)
        v = [cx + jitter] * (dims // 2) + [cy - jitter] * (dims // 2)
        rows.append((pid, v))
    return spark.createDataFrame(rows, "pid long, vec array<double>")


def test_codes_shape_and_codebooks(spark):
    df = _clustered_corpus(spark)
    codes, books = PQ.pq_codes(df, "vec", "pid", dims=8, m=2, k=4)
    c = codes.collect()
    assert len(c) == 24 * 2  # one row per (vector, subspace)
    assert {r["s"] for r in c} == {0, 1}
    b = books.collect()
    assert len(b) <= 2 * 4 and {r["s"] for r in b} == {0, 1}
    assert all(len(r["c"]) == 4 for r in b)  # 8 dims / 2 subspaces


def test_same_group_vectors_share_codes(spark):
    # within a well-separated group every vector must land on the same
    # centroid in both subspaces — the property that makes ADC work
    df = _clustered_corpus(spark)
    codes, _ = PQ.pq_codes(df, "vec", "pid", dims=8, m=2, k=4)
    got = {}
    for r in codes.collect():
        got.setdefault(r["pid"] % 4, set()).add((r["s"], r["pid"], r["cid"]))
    for grp, members in got.items():
        per_s = {}
        for s, _, cid in members:
            per_s.setdefault(s, set()).add(cid)
        assert all(len(cids) == 1 for cids in per_s.values()), grp


def test_adc_topk_perfect_recall_on_separated_groups(spark):
    df = _clustered_corpus(spark)
    out = PQ.pq_adc_topk(
        df, "vec", "pid", dims=8, m=2, k=4, n_queries=2, topk=5
    ).collect()
    assert len(out) == 10
    for r in out:
        # each query's true top-5 is the rest of ITS group (pid % 4), and
        # PQ must find exactly that
        assert r["pid"] % 4 == r["q_pid"] % 4 and r["pid"] != r["q_pid"]
        assert r["in_exact_topk"] is True
    # ranks are 1..5 per query
    ranks = sorted(r["rank"] for r in out if r["q_pid"] == 0)
    assert ranks == [1, 2, 3, 4, 5]


def test_matches_duckdb_twin(spark):
    df = _clustered_corpus(spark)
    got = [
        tuple(r)
        for r in PQ.pq_adc_topk(
            df, "vec", "pid", dims=8, m=2, k=4, n_queries=3, topk=4
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (pid BIGINT, vec DOUBLE[])")
    con.executemany(
        "INSERT INTO emb VALUES (?, ?)",
        [(r["pid"], r["vec"]) for r in df.collect()],
    )
    cte = PQ.pq_adc_sql("emb", "vec", "pid", dims=8, m=2, k=4,
                        n_queries=3, topk=4)
    want = con.execute(
        f"WITH {cte} SELECT q_pid, rank, pid, adc_d2, in_exact_topk"
        " FROM pq_topk ORDER BY q_pid, rank"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_dims_divisibility_refusal(spark):
    df = _clustered_corpus(spark)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_codes(df, "vec", "pid", dims=8, m=3)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.pq_adc_sql("emb", "vec", "pid", dims=8, m=3)


def test_quantize_int8_bounds_and_zero_vector(spark):
    import pyspark.sql.functions as F

    from rippledb_engine.functions.vector import as_double_array, quantize_int8

    rows = [
        (0, [0.5, -1.0, 0.25, 1.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),   # zero vector → all-zero codes
        (2, [127.0, -127.0, 63.5, 0.1]),
    ]
    df = spark.createDataFrame(rows, "pid long, vec array<double>")
    out = {
        r["pid"]: r["s"]
        for r in df.select(
            "pid", quantize_int8(as_double_array("vec")).alias("s")
        ).collect()
    }
    for pid, vec in rows:
        s = out[pid]
        assert all(-127 <= q <= 127 for q in s["q"]), pid
        if all(v == 0 for v in vec):
            assert s["scale"] == 0.0 and s["q"] == [0, 0, 0, 0]
            continue
        scale = max(abs(v) for v in vec) / 127.0
        assert s["scale"] == scale
        # reconstruction error bound: |x - q*scale| <= scale/2
        for v, q in zip(vec, s["q"]):
            assert abs(v - q * scale) <= scale / 2 + 1e-12, (pid, v, q)
        # the max-magnitude component hits ±127 exactly
        assert 127 in [abs(q) for q in s["q"]]


# ---------------------------------------------------------------------------
# BM25 (operators/retrieval.py, r8)
# ---------------------------------------------------------------------------


def test_bm25_ranking_properties(spark):
    import duckdb as _dd

    from rippledb_engine.operators.retrieval import bm25_topk, bm25_topk_sql

    rows = [
        (0, "apple banana apple apple"),      # tf-heavy on apple
        (1, "apple banana"),                   # both terms once
        (2, "banana banana banana banana banana banana banana banana"),
        (3, "cherry date"),                    # no query terms: never ranks
        (4, "apple " + "filler " * 50),        # long doc: length-normalized
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, "text", "doc_id", ["apple", "banana"], topk=10)
    got = [(r["rank"], r["doc_id"], r["n_query_terms_hit"], r["score"])
           for r in out.orderBy("rank").collect()]
    ids = [g[1] for g in got]
    assert 3 not in ids                 # zero-hit docs never rank
    assert len(got) == 4
    assert got[0][1] in (0, 1)          # two-term / tf-heavy docs lead
    d = {g[1]: g for g in got}
    assert d[0][2] == 2 and d[1][2] == 2 and d[2][2] == 1 and d[4][2] == 1
    # length normalization: doc 4 (one apple in 51 tokens) scores below
    # doc 0's apple contribution
    assert d[4][3] < d[0][3]
    # DuckDB twin equality
    con = _dd.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    cte = bm25_topk_sql("docs", "text", "doc_id", ["apple", "banana"], topk=10)
    want = con.execute(
        f"WITH {cte} SELECT rank, doc_id, n_query_terms_hit, score"
        " FROM bm25_topk ORDER BY rank"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_scd2_collapse_and_intervals(spark):
    from rippledb_engine.operators.scd import scd2_from_changes

    rows = [
        (1, 10, "A"), (1, 20, "A"),   # no-op change collapses
        (1, 30, "B"), (1, 40, "A"),   # value returns: new interval
        (2, 5, "X"),                   # single event: current from start
        (3, 7, "P"), (3, 7, "Q"),      # equal-ts tie: value tiebreak
    ]
    df = spark.createDataFrame(rows, "k long, ts long, v string")
    out = {(r["key"], r["value"], r["valid_from"]): (r["valid_to"], r["is_current"])
           for r in scd2_from_changes(df, "k", "ts", "v").collect()}
    assert out[(1, "A", 10)] == (30, False)   # 20 collapsed away
    assert out[(1, "B", 30)] == (40, False)
    assert out[(1, "A", 40)] == (None, True)
    assert out[(2, "X", 5)] == (None, True)
    assert out[(3, "P", 7)] == (7, False)     # zero-length, deterministic
    assert out[(3, "Q", 7)] == (None, True)
    assert len(out) == 6


def test_scd2_null_valued_history(spark):
    """r8 ADVICE fix: NULL is a legal dimension value. A plain != would
    NULL out against a NULL prev and DROP the row, collapsing a
    non-NULL→NULL→non-NULL history; eqNullSafe + the row_number=1 first
    marker keep all three intervals — in BOTH twins."""
    from rippledb_engine.operators.scd import (
        scd2_from_changes,
        scd2_from_changes_sql,
    )

    rows = [
        (1, 10, "A"), (1, 20, None), (1, 30, "A"),  # A → NULL → A
        (2, 5, None), (2, 6, None),                  # NULL→NULL collapses
        (3, 1, None),                                # first event IS NULL
    ]
    df = spark.createDataFrame(rows, "k long, ts long, v string")
    got = {
        (r["key"], r["value"], r["valid_from"]): (r["valid_to"], r["is_current"])
        for r in scd2_from_changes(df, "k", "ts", "v").collect()
    }
    assert got[(1, "A", 10)] == (20, False)
    assert got[(1, None, 20)] == (30, False)   # the NULL interval survives
    assert got[(1, "A", 30)] == (None, True)
    assert got[(2, None, 5)] == (None, True)   # ts-6 duplicate collapsed
    assert got[(3, None, 1)] == (None, True)
    assert len(got) == 5
    con = duckdb.connect()
    con.execute("CREATE TABLE ch (k BIGINT, ts BIGINT, v VARCHAR)")
    con.executemany("INSERT INTO ch VALUES (?, ?, ?)", rows)
    cte = scd2_from_changes_sql("ch", "k", "ts", "v")
    want = {
        (r[0], r[1], r[2]): (r[3], r[4])
        for r in con.execute(
            f"WITH {cte} SELECT key, value, valid_from, valid_to,"
            " is_current FROM scd2"
        ).fetchall()
    }
    assert got == want


def test_pq_encode_reproduces_training_codes_and_places_new_vectors(spark):
    from rippledb_engine.operators.pq import pq_codes, pq_encode

    df = _clustered_corpus(spark)
    codes, books = PQ.pq_codes(df, "vec", "pid", dims=8, m=2, k=4)
    books = books.localCheckpoint(eager=True)
    # re-encoding the training corpus against the trained codebook must
    # reproduce the training-time codes exactly (same contract)
    again = pq_encode(df, "vec", "pid", books, dims=8, m=2)
    a = sorted(map(tuple, codes.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
    # a brand-new vector near group 2's corner gets group 2's codes
    new = spark.createDataFrame(
        [(999, [9.02] * 4 + [0.03] * 4)], "pid long, vec array<double>"
    )
    got = {r["s"]: r["cid"] for r in pq_encode(
        new, "vec", "pid", books, dims=8, m=2
    ).collect()}
    member = {r["s"]: r["cid"] for r in codes.where("pid = 2").collect()}
    assert got == member  # pid 2 is a group-2 (corner (9,0)) member


# ---------------------------------------------------------------------------
# IVF-PQ composition (r9, verdict ask #1)
# ---------------------------------------------------------------------------


def test_ivfpq_index_shapes_and_cell_purity(spark):
    df = _clustered_corpus(spark)
    assign, coarse, codes, books = PQ.ivfpq_index(
        df, "vec", "pid", dims=8, ncells=4, m=2, k=4
    )
    a = assign.collect()
    assert len(a) == 24
    # four separated groups, lowest-id init seeds one centroid per group:
    # every vector of a group lands in the same cell
    cell_of = {}
    for r in a:
        cell_of.setdefault(r["pid"] % 4, set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in cell_of.values()), cell_of
    assert len({next(iter(c)) for c in cell_of.values()}) == 4
    assert coarse.count() <= 4
    assert codes.count() == 24 * 2  # one row per (vector, subspace)
    assert {r["s"] for r in books.collect()} == {0, 1}


def test_ivfpq_topk_perfect_recall_nprobe1_on_separated_groups(spark):
    # groups map 1:1 to cells, so probing ONE cell already finds the
    # exact same-group top-k — the inverted-list prune loses nothing
    df = _clustered_corpus(spark)
    out = PQ.ivfpq_topk(
        df, "vec", "pid", dims=8, ncells=4, nprobe=1, m=2, k=4,
        n_queries=2, topk=5,
    ).collect()
    assert len(out) == 10
    for r in out:
        assert r["pid"] % 4 == r["q_pid"] % 4 and r["pid"] != r["q_pid"]
        assert r["in_exact_topk"] is True
    assert sorted(r["rank"] for r in out if r["q_pid"] == 0) == [1, 2, 3, 4, 5]


def test_ivfpq_matches_duckdb_twin(spark):
    df = _clustered_corpus(spark)
    got = [
        tuple(r)
        for r in PQ.ivfpq_topk(
            df, "vec", "pid", dims=8, ncells=4, nprobe=2, m=2, k=4,
            n_queries=3, topk=4,
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (pid BIGINT, vec DOUBLE[])")
    con.executemany(
        "INSERT INTO emb VALUES (?, ?)",
        [(r["pid"], r["vec"]) for r in df.collect()],
    )
    cte = PQ.ivfpq_sql("emb", "vec", "pid", dims=8, ncells=4, nprobe=2,
                       m=2, k=4, n_queries=3, topk=4)
    want = con.execute(
        f"WITH {cte} SELECT q_pid, rank, pid, cell, adc_d2, in_exact_topk"
        " FROM ivfpq_topk ORDER BY q_pid, rank"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_ivfpq_dims_divisibility_refusal(spark):
    df = _clustered_corpus(spark)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.ivfpq_index(df, "vec", "pid", dims=8, m=3)
    with pytest.raises(ValueError, match="not divisible"):
        PQ.ivfpq_sql("emb", "vec", "pid", dims=8, m=3)


def test_ivfpq_encode_reproduces_index_and_routes_new_vectors(spark):
    from rippledb_engine.operators.pq import ivfpq_encode, ivfpq_index

    df = _clustered_corpus(spark)
    assign, coarse, codes, books = PQ.ivfpq_index(
        df, "vec", "pid", dims=8, ncells=4, m=2, k=4
    )
    coarse = coarse.localCheckpoint(eager=True)
    books = books.localCheckpoint(eager=True)
    # re-encoding the training corpus against the frozen index must
    # reproduce both the cell assignment and the codes exactly
    a2, c2 = ivfpq_encode(df, "vec", "pid", coarse, books, dims=8, m=2)
    assert sorted(map(tuple, assign.collect())) == sorted(map(tuple, a2.collect()))
    assert sorted(map(tuple, codes.collect())) == sorted(map(tuple, c2.collect()))
    # a brand-new vector near group 2's corner routes to group 2's cell
    # and gets a group-2 member's codes
    new = spark.createDataFrame(
        [(999, [9.02] * 4 + [0.03] * 4)], "pid long, vec array<double>"
    )
    na, nc = ivfpq_encode(new, "vec", "pid", coarse, books, dims=8, m=2)
    member_cell = {r["pid"]: r["cell"] for r in assign.collect()}[2]
    assert na.collect()[0]["cell"] == member_cell
    got = {r["s"]: r["cid"] for r in nc.collect()}
    member = {r["s"]: r["cid"] for r in codes.where("pid = 2").collect()}
    assert got == member


def _noisy_corpus(spark, n=48, dims=8):
    """Deterministic pseudo-random vectors (fixed-seed LCG) — a corpus
    where ADC genuinely mis-ranks (no planted structure), so the
    re-rank's recall advantage is visible rather than vacuous."""
    rows, state = [], 12345
    for pid in range(n):
        v = []
        for _ in range(dims):
            state = (1103515245 * state + 12345) % (1 << 31)
            v.append(round(state / float(1 << 31) * 10.0, 6))
        rows.append((pid, v))
    return spark.createDataFrame(rows, "pid long, vec array<double>")


def test_ivfpq_rerank_matches_duckdb_twin(spark):
    df = _noisy_corpus(spark)
    got = [
        tuple(r)
        for r in PQ.ivfpq_rerank_topk(
            df, "vec", "pid", dims=8, ncells=4, nprobe=2, m=2, k=4,
            n_queries=3, shortlist=10, topk=4,
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE emb (pid BIGINT, vec DOUBLE[])")
    con.executemany(
        "INSERT INTO emb VALUES (?, ?)",
        [(r["pid"], r["vec"]) for r in df.collect()],
    )
    cte = PQ.ivfpq_rerank_sql(
        "emb", "vec", "pid", dims=8, ncells=4, nprobe=2, m=2, k=4,
        n_queries=3, shortlist=10, topk=4,
    )
    want = con.execute(
        f"WITH {cte} SELECT q_pid, rank, pid, cell, adc_rank, exact_d2,"
        " in_exact_topk FROM ivfpq_rerank ORDER BY q_pid, rank"
    ).fetchall()
    assert got == [tuple(w) for w in want]


def test_ivfpq_rerank_recall_never_below_plain_adc(spark):
    """r10 (verdict ask #1): among the shortlist S, the true top-k
    members beat every non-member on exact distance, so the re-rank's
    top-k contains ALL of true-top-k ∩ S while ADC's top-k (also ⊆ S)
    contains at most that many — recall@k ≥ plain ADC's,
    deterministically, per query."""
    df = _noisy_corpus(spark)
    kw = dict(dims=8, ncells=4, nprobe=2, m=2, k=4, n_queries=4, topk=4)
    adc = {
        r["q_pid"]: 0 for r in PQ.ivfpq_topk(df, "vec", "pid", **kw).collect()
    }
    for r in PQ.ivfpq_topk(df, "vec", "pid", **kw).collect():
        adc[r["q_pid"]] += bool(r["in_exact_topk"])
    rr = dict.fromkeys(adc, 0)
    out = PQ.ivfpq_rerank_topk(
        df, "vec", "pid", shortlist=12, **kw
    ).collect()
    for r in out:
        rr[r["q_pid"]] += bool(r["in_exact_topk"])
    for q_pid in adc:
        assert rr[q_pid] >= adc[q_pid], (q_pid, rr, adc)
    # the shortlist is ADC-ordered, so every re-ranked row carries a
    # valid ADC position within R
    assert all(1 <= r["adc_rank"] <= 12 for r in out)


def test_ivfpq_save_load_roundtrip_query_identical(spark, tmp_path):
    """r10 (verdict ask #2): a saved-then-loaded index answers the
    frozen-index query path identically to the in-memory frames, and
    identically to ivfpq_topk's approximate half."""
    import pyspark.sql.functions as F

    df = _clustered_corpus(spark)
    kw = dict(dims=8, ncells=4, m=2, k=4)
    assign, coarse, codes, books = PQ.ivfpq_index(df, "vec", "pid", **kw)
    path = str(tmp_path / "ivfpq_store")
    PQ.save_index(path, assign, coarse, codes, books)
    lcoarse, lbooks, lcellcodes = PQ.load_index(spark, path)
    from rippledb_engine.functions.vector import as_double_array

    queries = (
        df.select(F.col("pid").alias("q_pid"),
                  as_double_array("vec").alias("qv"))
        .orderBy("q_pid").limit(3)
    )
    mem = PQ.ivfpq_query_topk(
        queries, coarse, books, codes.join(assign, "pid"),
        dims=8, m=2, nprobe=2, topk=4,
    )
    loaded = PQ.ivfpq_query_topk(
        queries, lcoarse, lbooks, lcellcodes, dims=8, m=2, nprobe=2, topk=4,
    )
    a = sorted(map(tuple, mem.collect()))
    b = sorted(map(tuple, loaded.collect()))
    assert a == b and len(a) == 12
    full = {
        (r["q_pid"], r["rank"]): (r["pid"], r["cell"], r["adc_d2"])
        for r in PQ.ivfpq_topk(df, "vec", "pid", n_queries=3, topk=4, **kw)
        .collect()
    }
    got = {
        (r["q_pid"], r["rank"]): (r["pid"], r["cell"], r["adc_d2"])
        for r in loaded.collect()
    }
    assert got == full


def test_bm25_batch_matches_single_query_form(spark):
    """r9: the batched form must reproduce the single-query operator for
    each query id, and a WindowGroupLimit rank-pushdown must appear in
    the plan (the partitioned-top-k shape PLANS.md documents)."""
    from rippledb_engine.operators.retrieval import bm25_topk, bm25_topk_batch

    rows = [
        (0, "apple banana apple apple"),
        (1, "apple banana"),
        (2, "banana banana banana banana"),
        (3, "cherry date"),
        (4, "apple " + "filler " * 50),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = spark.createDataFrame(
        [(1, "apple"), (1, "banana"), (2, "banana"), (2, "cherry")],
        "query_id int, term string",
    )
    batch = bm25_topk_batch(df, "text", "doc_id", q, topk=10)
    got = {
        (r["query_id"], r["rank"]): (r["doc_id"], r["n_query_terms_hit"], r["score"])
        for r in batch.collect()
    }
    for qid, terms in ((1, ["apple", "banana"]), (2, ["banana", "cherry"])):
        single = {
            r["rank"]: (r["doc_id"], r["n_query_terms_hit"], r["score"])
            for r in bm25_topk(df, "text", "doc_id", terms, topk=10).collect()
        }
        for rank, v in single.items():
            assert got[(qid, rank)] == v, (qid, rank)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_rotated_pq_beats_plain_on_anisotropic_corpus(spark, sf_dir):
    """r11 (OPQ-lite): on the planted anisotropic corpus the PCA-rotated
    PQ's original-space recall must strictly beat plain PQ's — the
    measurable Ge et al. 2013 claim the registered row carries."""
    from rippledb_engine.queries.pipeline9 import pq_rotated_topk

    rows = pq_rotated_topk(spark, sf_dir).collect()
    assert len(rows) == 15
    r0 = rows[0]
    assert r0["recall_rotated"] > r0["recall_plain"]
    assert r0["recall_rotated"] >= 0.4  # the rotation recovers real recall
    # per-row flags fold to the reported recall
    got = sum(1.0 for r in rows if r["in_exact_topk"]) / len(rows)
    assert abs(got - r0["recall_rotated"]) < 1e-6


def test_rotate_vectors_shape_and_determinism(spark, sf_dir):
    """The rotation frame: one R-dim 6dp vector per input id, stable
    across runs (replayable-iteration contract)."""
    from rippledb_engine.operators.opq import rotate_vectors
    from rippledb_engine.tables import load

    e = load(spark, sf_dir, "embeddings")
    a = rotate_vectors(e, "embedding", "vec_id", 64, r=4, pca_iterations=3)
    rows = a.collect()
    assert len(rows) == e.count()
    assert all(len(r["rv"]) == 4 for r in rows)
    b = rotate_vectors(e, "embedding", "vec_id", 64, r=4, pca_iterations=3)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, b.collect()))


def test_pq_rotated_refuses_bad_split(spark, sf_dir):
    import pytest as _pytest

    from rippledb_engine.operators.opq import pq_rotated_topk as op
    from rippledb_engine.tables import load

    e = load(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="subspaces"):
        op(e, "embedding", "vec_id", 64, r=6, m=4)


def test_rotated_index_save_load_serve_roundtrip(spark, sf_dir, tmp_path_factory):
    """r11: the rotated index's frozen-serving path — save the four
    frames, reload, serve original-space queries; results identical to
    serving off the in-memory frames (and the rotation uses the
    TRAINING means, not query-batch means)."""
    from rippledb_engine.operators.opq import (
        load_rotated_index,
        rotated_query_topk,
        save_rotated_index,
        train_rotated_index,
    )
    from rippledb_engine.functions.vector import as_double_array
    from rippledb_engine.tables import load
    import pyspark.sql.functions as F

    e = load(spark, sf_dir, "embeddings")
    means, comps, codes, books = train_rotated_index(
        e, "embedding", "vec_id", 64, r=4, m=2, k=4,
        iterations=2, pca_iterations=3,
    )
    path = str(tmp_path_factory.mktemp("rotidx"))
    save_rotated_index(path, means, comps, codes, books)
    queries = (
        e.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("q_pid"),
            as_double_array("embedding").alias("qv"),
        )
    )
    mem = rotated_query_topk(
        queries, means, comps, codes, books, dims=64, r=4, m=2, topk=5
    )
    # the load tuple order IS the call order (the review's footgun fix)
    frozen = rotated_query_topk(
        queries, *load_rotated_index(spark, path), dims=64, r=4, m=2, topk=5
    )
    a = sorted(map(tuple, mem.collect()))
    b = sorted(map(tuple, frozen.collect()))
    assert a == b and len(a) == 15


def test_givens_schedule_covers_all_pairs_disjointly():
    from rippledb_engine.operators.opq import givens_schedule

    for r in (4, 8):
        steps = givens_schedule(r)
        assert len(steps) == r - 1
        seen = set()
        for pairs in steps:
            flat = [x for p in pairs for x in p]
            assert len(flat) == len(set(flat)) == r  # disjoint, full cover
            seen |= set(pairs)
        assert len(seen) == r * (r - 1) // 2  # every pair exactly once
    import pytest as _pytest

    with _pytest.raises(ValueError, match="even"):
        givens_schedule(5)


def test_polar_sweep_increases_trace_and_stays_orthogonal():
    """The Givens coordinate-descent Procrustes step: trace(G·M) must
    not decrease, and G must stay orthogonal to within the 6dp cos/sin
    grid (r steps × 1e-6 per entry)."""
    from rippledb_engine.operators.opq import givens_schedule, polar_sweeps

    # a deliberately non-symmetric moment matrix
    M = [
        [4.0, 1.0, -2.0, 0.5],
        [-1.0, 3.0, 0.7, 2.0],
        [2.0, -0.5, 1.0, -1.0],
        [0.3, 1.5, -0.2, 2.5],
    ]
    G = polar_sweeps(M, givens_schedule(4), sweeps=2)

    def trace_gm(g, m):
        return sum(
            sum(g[i][k] * m[k][i] for k in range(4)) for i in range(4)
        )

    ident = [[1.0 if i == j else 0.0 for j in range(4)] for i in range(4)]
    assert trace_gm(G, M) >= trace_gm(ident, M)
    # near-orthogonality: G·Gᵀ ≈ I within the grid tolerance
    for i in range(4):
        for j in range(4):
            dot = sum(G[i][k] * G[j][k] for k in range(4))
            assert abs(dot - (1.0 if i == j else 0.0)) < 1e-4


def test_opq_alternation_distortion_chain_is_monotone(spark, sf_dir):
    """r12 (full OPQ with WARM-started codebooks): the alternation's
    certified win is the objective it optimizes — the quantization-
    error chain lite → round 1 → round 2 must be NON-INCREASING and
    the end-to-end drop substantial (measured −17% at sf0.001, −11% at
    sf0.01; the pre-warm-start cold re-init managed 0.16% and at
    sf0.01 went the wrong way). The comparison is deliberately a
    SINGLE-SESSION Spark one, not a hashed oracle column: the corpus
    error sum sits on a ×10⁶ grid where one k-means-mean ulp flips
    exact-integer equality across run contexts. Recall is reported on
    the registered row but not pinned ≥ lite (15-flag granularity on a
    PCA-near-optimal fixture); both rotated variants must still beat
    plain PQ's recall (the Ge et al. claim)."""
    import pyspark.sql.functions as F

    from rippledb_engine.operators.opq import (
        opq_alternating_rotate,
        pq_distortion_grid,
        rotate_vectors,
    )
    from rippledb_engine.queries.pipeline9 import _aniso_vectors
    from rippledb_engine.queries.pipeline10 import pq_opq_alternating_topk
    from rippledb_engine.tables import load

    e = load(spark, sf_dir, "embeddings")
    av = _aniso_vectors(e).localCheckpoint(eager=True)
    rot = rotate_vectors(av, "av", "vec_id", 64, 8, pca_iterations=6)
    rdf = rot.select(F.col("id").alias("pid"), "rv").localCheckpoint(
        eager=True
    )
    chain = [pq_distortion_grid(rdf, 8, 4, 8, 2).collect()[0]["dist_grid"]]
    for rounds in (1, 2):
        cur, _, books = opq_alternating_rotate(
            rdf, 8, m=4, k=8, pq_iterations=2, rounds=rounds,
            return_state=True,
        )
        chain.append(
            pq_distortion_grid(cur, 8, 4, 8, 2, init_books=books)
            .collect()[0]["dist_grid"]
        )
    assert chain[0] >= chain[1] >= chain[2], chain
    assert chain[2] < 0.95 * chain[0], chain  # a real win, not grid noise

    rows = pq_opq_alternating_topk(spark, sf_dir).collect()
    assert len(rows) == 15
    r0 = rows[0]
    assert r0["recall_full"] > r0["recall_plain"]
    assert r0["recall_lite"] > r0["recall_plain"]
    got = sum(1.0 for r in rows if r["in_exact_topk"]) / len(rows)
    assert abs(got - r0["recall_full"]) < 1e-6


def test_alternating_index_save_load_serve_roundtrip(spark, sf_dir, tmp_path_factory):
    """r12: the full-OPQ index's frozen-serving path — save the five
    frames (rotated layout + the Givens trajectory), reload, serve
    original-space queries; results identical to in-memory serving,
    and the trajectory replay must reproduce the TRAINING-time rotated
    coordinates exactly (codes were built from them)."""
    import pyspark.sql.functions as F

    from rippledb_engine.functions.vector import as_double_array
    from rippledb_engine.operators.opq import (
        alternating_query_topk,
        apply_frozen_rotations,
        load_alternating_index,
        rotate_with_frozen,
        save_alternating_index,
        train_alternating_index,
    )
    from rippledb_engine.tables import load

    e = load(spark, sf_dir, "embeddings")
    means, comps, givens, codes, books = train_alternating_index(
        e, "embedding", "vec_id", 64, r=4, m=2, k=4,
        iterations=2, pca_iterations=3, rounds=2,
    )
    assert givens.count() == 2 * 4  # rounds x r rotation rows
    path = str(tmp_path_factory.mktemp("altidx"))
    save_alternating_index(path, means, comps, givens, codes, books)
    queries = (
        e.orderBy("vec_id")
        .limit(3)
        .select(
            F.col("vec_id").alias("q_pid"),
            as_double_array("embedding").alias("qv"),
        )
    )
    mem = alternating_query_topk(
        queries, means, comps, givens, codes, books,
        dims=64, r=4, m=2, topk=5,
    )
    frozen = alternating_query_topk(
        queries, *load_alternating_index(spark, path),
        dims=64, r=4, m=2, topk=5,
    )
    a = sorted(map(tuple, mem.collect()))
    b = sorted(map(tuple, frozen.collect()))
    assert a == b and len(a) == 15
    # self-queries through the frozen path land on the SAME rotated
    # coordinates the index was built from: each query's own code row
    # must be its nearest reconstruction — rank-1 ADC distance equals
    # the pid's own quantization distance (sanity: replay == training)
    rv_serve = apply_frozen_rotations(
        rotate_with_frozen(queries, "qv", "q_pid", means, comps, 64)
        .select(F.col("q_pid").alias("pid"), "rv"),
        givens, 4,
    )
    got = {r["pid"]: list(r["rv"]) for r in rv_serve.collect()}
    # training-time rotated vectors for the same pids
    from rippledb_engine.operators.opq import opq_alternating_rotate, rotate_vectors

    rdf = rotate_vectors(e, "embedding", "vec_id", 64, 4, pca_iterations=3)
    full = opq_alternating_rotate(
        rdf.select(F.col("id").alias("pid"), "rv"), 4, m=2, k=4,
        pq_iterations=2, rounds=2,
    )
    want = {
        r["pid"]: list(r["rv"])
        for r in full.where(F.col("pid").isin(list(got))).collect()
    }
    assert got == want
