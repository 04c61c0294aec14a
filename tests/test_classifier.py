"""Trained quality classifier (operators/classifier.py, r11):
deterministic full-batch logistic GD — planted-rule recovery, twin
replay, serving semantics, and refusals."""

from __future__ import annotations

import duckdb
import pytest
import pyspark.sql.functions as F

from rippledb_engine.operators.classifier import (
    logistic_metrics,
    logistic_predict,
    logistic_train,
    logistic_train_sql,
)
from rippledb_engine.tables import load


def _toy(spark):
    # 2-d separable: y = 1 iff x1 > 0 (x = [1 intercept, x1])
    rows = [([1.0, float(v)], 1.0 if v > 0 else 0.0)
            for v in (-4, -3, -2, -1, 1, 2, 3, 4)]
    return spark.createDataFrame(rows, "x array<double>, y double")


def test_separable_toy_reaches_full_accuracy(spark):
    df = _toy(spark)
    w = logistic_train(df, "x", "y", 2, iterations=20, lr=2.0)
    m = logistic_metrics(df, "x", "y", w, 2).collect()[0]
    assert m["accuracy"] == 1.0
    assert m["n_train"] == 8 and m["n_pos"] == 4
    wv = w.collect()[0]["w"]
    assert wv[1] > 0  # the slope recovered the planted direction


def test_train_matches_duckdb_twin(spark):
    df = _toy(spark)
    w = logistic_train(df, "x", "y", 2, iterations=6, lr=1.0)
    m = logistic_metrics(df, "x", "y", w, 2).collect()[0]
    got = (w.collect()[0]["w"], m["accuracy"], m["log_loss"])

    con = duckdb.connect()
    vals = ", ".join(
        f"([1.0, {float(v)}], {1.0 if v > 0 else 0.0})"
        for v in (-4, -3, -2, -1, 1, 2, 3, 4)
    )
    cte = logistic_train_sql("t", 2, iterations=6, lr=1.0, prefix="tw")
    r = con.execute(
        f"WITH t AS (SELECT * FROM (VALUES {vals}) AS v(x, y)),\n{cte}\n"
        "SELECT w.w, m.accuracy, m.log_loss FROM tw_w w, tw_metrics m"
    ).fetchone()
    assert list(got[0]) == list(r[0])
    assert got[1] == r[1] and got[2] == r[2]


def test_predict_is_sign_of_margin(spark):
    df = _toy(spark)
    ids = df.select(
        F.monotonically_increasing_id().alias("id"), "x", "y"
    )
    w = logistic_train(df, "x", "y", 2, iterations=20, lr=2.0)
    out = logistic_predict(ids, "x", "id", w, 2)
    rows = out.join(ids, "id").select("keep", "y").collect()
    for r in rows:
        assert r["keep"] == (r["y"] == 1.0)


def test_refusals(spark):
    df = _toy(spark)
    with pytest.raises(ValueError, match="iterations"):
        logistic_train(df, "x", "y", 2, iterations=0)
    empty = df.where("y > 5")
    with pytest.raises(ValueError, match="empty"):
        logistic_train(empty, "x", "y", 2)


def test_planted_rule_recovery_certificate(spark, sf_dir):
    """The registered query's accuracy column ≥ 0.9 with both classes
    populated — the self-verifying certificate VERDICT asked for."""
    from rippledb_engine.queries.pipeline9 import (
        quality_classifier_accounting,
    )

    rows = quality_classifier_accounting(spark, sf_dir).collect()
    assert len(rows) == 12
    r0 = rows[0]
    assert r0["accuracy"] >= 0.9
    assert 0 < r0["n_pos"] < r0["n_train"]
    assert r0["log_loss"] < 0.69  # better than the coin-flip ln 2


def test_classifier_gate_composes_into_pipeline(spark, sf_dir):
    from rippledb_engine.queries.pipeline9 import (
        pretraining_classifier_gate_accounting,
    )

    rows = pretraining_classifier_gate_accounting(spark, sf_dir).collect()
    assert len(rows) > 0
    total_docs = load(spark, sf_dir, "documents").count()
    kept = sum(r["n_kept_unique"] for r in rows)
    assert 0 < kept < total_docs  # the gate actually gates
    assert all(r["n_corpus"] == total_docs for r in rows)


def test_model_save_load_serve_roundtrip(spark, tmp_path):
    from rippledb_engine.operators.classifier import (
        load_model,
        logistic_predict,
        save_model,
    )

    df = _toy(spark)
    w = logistic_train(df, "x", "y", 2, iterations=10, lr=2.0)
    path = str(tmp_path / "model")
    save_model(path, w)
    lw = load_model(spark, path)
    assert lw.collect()[0]["w"] == w.collect()[0]["w"]
    ids = df.select(F.monotonically_increasing_id().alias("id"), "x")
    a = sorted(map(tuple, logistic_predict(ids, "x", "id", w, 2).collect()))
    b = sorted(map(tuple, logistic_predict(ids, "x", "id", lw, 2).collect()))
    assert a == b


def test_threshold_sweep_monotone_and_consistent(spark, sf_dir):
    """r11: the evaluation sweep — recall non-increasing in the
    threshold, tp+fn constant (= the positive count), and the t=0 row
    consistent with the certified accuracy query's positive class."""
    from rippledb_engine.queries.pipeline9 import classifier_threshold_sweep

    rows = classifier_threshold_sweep(spark, sf_dir).collect()
    assert [r["threshold"] for r in rows] == [-1.0, -0.5, 0.0, 0.5, 1.0]
    n_pos = {r["tp"] + r["fn"] for r in rows}
    assert len(n_pos) == 1 and n_pos.pop() > 0
    recalls = [r["recall"] for r in rows]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))
    # lower thresholds predict positive at least as often
    preds = [r["tp"] + r["fp"] for r in rows]
    assert all(a >= b for a, b in zip(preds, preds[1:]))
