"""Trained multiclass language-ID classifier (operators/langid.py,
r12): planted-language recovery, bit-exact DuckDB twin replay,
featurization edge cases, and argmax serving semantics."""

from __future__ import annotations

import duckdb
import pytest
import pyspark.sql.functions as F

from rippledb_engine.operators.langid import (
    char_ngram_hash_features,
    char_ngram_hash_features_sql,
    softmax_metrics,
    softmax_predict,
    softmax_train,
    softmax_train_sql,
)

_WORDS = [
    ["".join(chr(97 + 6 * k + (v + i) % 6) for i in range(3)) for v in range(6)]
    for k in range(4)
]


def _planted_rows(n=80):
    rows = []
    for did in range(n):
        lang = did % 4
        text = " ".join(
            _WORDS[lang][(7 * did + 13 * i) % 6] for i in range(12 + did % 5)
        )
        rows.append((did, lang, text))
    return rows


def _corpus(spark, n=80):
    return spark.createDataFrame(
        _planted_rows(n), "doc_id long, y int, text string"
    )


def _feats(spark, dims=16, n=80):
    df = _corpus(spark, n)
    return char_ngram_hash_features(df, "text", "doc_id", dims=dims).join(
        df.select("doc_id", "y"), "doc_id"
    )


def test_planted_languages_recovered(spark):
    # disjoint alphabets → char bigrams separate the classes; the
    # fitted accuracy is the recovery certificate the certified query
    # rides on (langid_classifier_accounting pins the same bound).
    feats = _feats(spark)
    w = softmax_train(feats, "x", "y", 16, 4, iterations=8, lr=2.0)
    m = softmax_metrics(feats, "x", "y", w, 16, 4).collect()[0]
    assert m["accuracy"] >= 0.9
    assert m["n_train"] == 80


def test_train_matches_duckdb_twin_bit_exact(spark):
    feats = _feats(spark, n=40)
    w = softmax_train(feats, "x", "y", 16, 4, iterations=4, lr=2.0)
    sw = w.collect()[0]["w"]

    rows = _planted_rows(40)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ",".join(f"({d},{y},'{t}')" for d, y, t in rows)
        + ") AS t(doc_id, y, text)"
    )
    fsql = char_ngram_hash_features_sql("docs", "text", "doc_id", dims=16)
    dfeats = {
        did: list(x)
        for did, x in con.execute(
            f"WITH {fsql} SELECT v.doc_id, v.x FROM cg_vecs v"
        ).fetchall()
    }
    sfeats = {r["doc_id"]: list(r["x"]) for r in feats.collect()}
    assert dfeats == sfeats  # featurization twin, exact doubles

    tsql = softmax_train_sql("sx_feats", 16, 4, iterations=4, lr=2.0)
    dw = con.execute(
        f"""WITH {fsql},
        sx_feats AS MATERIALIZED (
          SELECT v.x, d.y FROM cg_vecs v JOIN docs d USING (doc_id)),
        {tsql}
        SELECT w FROM sx_w"""
    ).fetchall()[0][0]
    assert list(dw) == list(sw)  # every 6dp iterate replayed exactly


def test_featurization_edges(spark):
    df = spark.createDataFrame(
        [(1, "ab"), (2, "a"), (3, "")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["x"]
        for r in char_ngram_hash_features(
            df, "text", "doc_id", dims=4
        ).collect()
    }
    assert len(out) == 3  # accounting never loses rows
    # shorter-than-n texts → intercept-only vector
    assert out[2] == [0.0, 0.0, 0.0, 1.0]
    assert out[3] == [0.0, 0.0, 0.0, 1.0]
    # 'ab' has one bigram: exactly one ±1 cell, ratio 1
    assert sorted(abs(v) for v in out[1]) == [0.0, 0.0, 1.0, 1.0]
    assert out[1][3] == 1.0


def test_predict_is_argmax_first_index_on_ties(spark):
    # zero weights → all logits 0.0 → argmax must be class 0 in both
    # engines (array_position / list_position agree on first-max).
    df = spark.createDataFrame(
        [(7, ["x"])], "doc_id long, junk array<string>"
    ).select("doc_id", F.array(F.lit(1.0), F.lit(2.0)).alias("x"))
    w = spark.range(1).select(F.array_repeat(F.lit(0.0), 6).alias("w"))
    out = softmax_predict(df, "x", "doc_id", w, 2, 3).collect()
    assert out[0]["pred"] == 0


def test_refusals(spark):
    df = spark.createDataFrame([([1.0], 0)], "x array<double>, y int")
    with pytest.raises(ValueError, match="empty"):
        softmax_train(df.where("y = 9"), "x", "y", 1, 2)
    with pytest.raises(ValueError, match="iterations"):
        softmax_train(df, "x", "y", 1, 2, iterations=0)
    with pytest.raises(ValueError, match="dims"):
        char_ngram_hash_features(df, "x", "y", dims=1)


def test_softmax_model_save_load_serve_roundtrip(spark, tmp_path):
    """The generic classifier save/load persists the flat K·d softmax
    weight row too — frozen lang-ID serving after a reload must equal
    in-memory serving (the train-once / gate-forever pattern)."""
    from rippledb_engine.operators.classifier import load_model, save_model

    feats = _feats(spark, n=40).localCheckpoint(eager=True)
    w = softmax_train(feats, "x", "y", 16, 4, iterations=4, lr=2.0)
    path = str(tmp_path / "langid_model")
    save_model(path, w)
    w2 = load_model(spark, path)
    got = sorted(
        map(tuple, softmax_predict(feats, "x", "doc_id", w2, 16, 4).collect())
    )
    want = sorted(
        map(tuple, softmax_predict(feats, "x", "doc_id", w, 16, 4).collect())
    )
    assert got == want and len(got) == 40


def test_registered_query_recovers_planted_languages(spark, sf_dir):
    """The certified query itself (train on the balanced half, score
    the WHOLE corpus) must recover the planted languages — the ≥0.9
    accuracy certificate the registry row rides."""
    from rippledb_engine.queries.pipeline10 import langid_classifier_accounting

    rows = langid_classifier_accounting(spark, sf_dir).collect()
    assert len(rows) == 4
    assert rows[0]["accuracy"] >= 0.9
    assert sum(r["n_true"] for r in rows) == sum(r["n_pred"] for r in rows)
    for r in rows:
        assert r["recall"] >= 0.9


def test_softmax_serving_plan_is_shuffle_free(spark):
    """The serving path's plan shape: one broadcast of the flat K·d
    weights against the corpus, NO shuffle exchange — the property that
    makes the gate free at 100 TB (the r11 classifier's serving pin,
    multiclass edition)."""
    feats = _feats(spark, n=40).localCheckpoint(eager=True)
    w = softmax_train(feats, "x", "y", 16, 4, iterations=2, lr=2.0)
    pred = softmax_predict(
        feats.select("doc_id", "x"), "x", "doc_id",
        w.localCheckpoint(eager=True), 16, 4,
    )
    plan = pred._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan or "Broadcast" in plan
    assert "ShuffleExchange" not in plan.replace("BroadcastExchange", "")
