"""Live Structured Streaming: file source → memory sink, checked against
the batch twins (queries/streaming_batch.py are the oracle-checked forms;
here we prove the STREAMING plans produce the same answers)."""

from __future__ import annotations

import json

import pytest
import pyspark.sql.functions as F

from rippledb_engine.streaming import windows as SW

EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
    (2, "2024-01-01 10:20:00", 1, "click", 2.0, "{}"),
    (3, "2024-01-01 10:40:00", 1, "view", 3.0, "{}"),
    (4, "2024-01-01 11:30:00", 1, "click", 4.0, "{}"),  # >30min gap → new session
    (5, "2024-01-01 10:10:00", 2, "view", 5.0, "{}"),
    (6, "2024-01-01 12:00:00", 2, "view", 6.0, "{}"),
    (7, "2024-01-01 10:20:00", 1, "click", 7.0, "{}"),  # dup key (user1, click)
]


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    rows = [
        {"event_id": e, "ts": ts, "user_id": u, "event_type": t, "value": v, "props": p}
        for e, ts, u, t, v, p in EVENTS
    ]
    (d / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    return str(d)


def _run_stream(spark, df, name: str, mode: str = "complete"):
    # append-mode windows only emit after the watermark passes their end,
    # which never happens in a single availableNow batch — aggregation
    # tests read the full state via complete mode instead. (The watermark
    # still bounds state in production continuous runs.)
    q = df.writeStream.format("memory").queryName(name).outputMode(mode).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _read_stream(spark, stream_dir):
    return (
        spark.readStream.schema(SW.EVENTS_DDL)
        .json(stream_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def test_tumbling_stream_matches_batch(spark, stream_dir):
    out = _run_stream(
        spark, SW.tumbling_counts(_read_stream(spark, stream_dir)), "t_tumble"
    )
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in out.collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (3, 10.0)
    assert got[("2024-01-01 10:00:00", "view")] == (2, 8.0)
    assert got[("2024-01-01 11:00:00", "click")] == (1, 4.0)
    assert got[("2024-01-01 12:00:00", "view")] == (1, 6.0)


def test_session_window_stream(spark, stream_dir):
    out = _run_stream(
        spark, SW.session_counts(_read_stream(spark, stream_dir), gap="30 minutes"), "t_sess"
    )
    rows = [(r["user_id"], r["n_events"]) for r in out.collect()]
    # user 1: events at 10:05-10:40 chain (gaps ≤30m) = one session of 4
    # (incl. the dup), then 11:30 alone; user 2: two singleton sessions
    assert sorted(rows) == [(1, 1), (1, 4), (2, 1), (2, 1)]


def test_stream_dedup_within_watermark(spark, stream_dir):
    out = _run_stream(
        spark,
        SW.dedup_within_watermark(_read_stream(spark, stream_dir)).select(
            "user_id", "event_type"
        ),
        "t_dedup",
        mode="append",
    )
    rows = sorted((r["user_id"], r["event_type"]) for r in out.collect())
    # one row per (user_id, event_type) key
    assert rows == [(1, "click"), (1, "view"), (2, "view")]


def test_sliding_stream_total(spark, stream_dir):
    out = _run_stream(
        spark, SW.sliding_counts(_read_stream(spark, stream_dir)), "t_slide"
    )
    # every event appears in exactly 2 sliding windows
    assert sum(r["n_events"] for r in out.collect()) == 2 * len(EVENTS)


def test_stateful_running_user_stats(spark, stream_dir):
    from rippledb_engine.streaming.stateful import running_user_stats

    out = _run_stream(
        spark, running_user_stats(_read_stream(spark, stream_dir)), "t_state", mode="update"
    )
    # update mode with one batch: final state per user
    rows = {r["user_id"]: (r["n_events"], r["total_value"], r["max_value"]) for r in out.collect()}
    assert rows[1] == (5, 17.0, 7.0)   # events 1,2,3,4,7
    assert rows[2] == (2, 11.0, 6.0)   # events 5,6


def test_late_data_past_watermark_dropped(spark, tmp_path):
    """Out-of-order events arriving after their window's state was EVICTED
    are dropped — proven with three micro-batches (maxFilesPerTrigger=1):

    - batch 0 fills the 10:00 window and advances the watermark to 13:00;
    - batch 1 (any on-time row) finalizes + evicts the 10:00 window under
      that watermark (append emits it once, with batch-0 counts);
    - batch 2 injects a click at 10:30 — behind the watermark, state gone.

    The watermark filter must drop it (numRowsDroppedByWatermark=1) and the
    sink must NOT grow a second, resurrected 10:00 row. Watermark dropping
    is best-effort only UNTIL eviction (a late row landing in the same
    batch as the eviction may still merge — observed Spark behavior, and
    why the late row here arrives one batch after)."""
    import os
    import time

    d = tmp_path / "late_stream"
    d.mkdir()

    def write(name, rows, mtime):
        f = d / name
        f.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(f, (mtime, mtime))

    def ev(eid, ts, etype, value):
        return {
            "event_id": eid, "ts": ts, "user_id": 1,
            "event_type": etype, "value": value, "props": "{}",
        }

    now = time.time()
    write("part-000.json", [
        ev(1, "2024-01-01 10:15:00", "click", 1.0),
        ev(2, "2024-01-01 10:45:00", "click", 2.0),
        ev(3, "2024-01-01 15:00:00", "view", 3.0),   # watermark → 13:00
    ], now - 30)
    write("part-001.json", [
        ev(4, "2024-01-01 15:10:00", "view", 4.0),   # evicts 10:00 window
    ], now - 20)
    write("part-002.json", [
        ev(5, "2024-01-01 10:30:00", "click", 10.0),  # LATE: 10:30 < 13:00
    ], now - 10)

    stream = (
        spark.readStream.schema(SW.EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        SW.tumbling_counts(stream, window="1 hour", watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    rows = [
        (str(r["window_start"]), r["event_type"], r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM t_late").collect()
    ]
    assert dropped == 1  # the late click hit the watermark filter
    # exactly one finalized 10:00 row, with batch-0 counts only — the late
    # row neither merged nor resurrected the evicted window
    assert rows == [("2024-01-01 10:00:00", "click", 2, 3.0)]


def test_stream_stream_interval_join(spark, stream_dir, tmp_path):
    """Live stream-stream join: error followed by same-user clicks within
    10 minutes. Inner joins emit matches eagerly (no watermark wait)."""
    d = tmp_path / "ss_join"
    d.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 10:00:00", "user_id": 1, "event_type": "error", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 10:05:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01 10:20:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},  # >10min
        {"event_id": 4, "ts": "2024-01-01 10:05:00", "user_id": 2, "event_type": "click", "value": 1.0, "props": "{}"},  # other user
        {"event_id": 5, "ts": "2024-01-01 09:59:00", "user_id": 1, "event_type": "click", "value": 1.0, "props": "{}"},  # before error
    ]
    (d / "part1.json").write_text("\n".join(json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema(SW.EVENTS_DDL)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = _run_stream(
        spark, SW.error_click_followups(stream), "t_ssjoin", mode="append"
    )
    pairs = sorted((r["error_id"], r["click_id"]) for r in out.collect())
    assert pairs == [(1, 2)]  # only the in-horizon, same-user, after-error click


def test_foreachbatch_upsert_parquet_sink(spark, tmp_path):
    """foreachBatch upsert sink: micro-batches MERGE into a parquet
    snapshot by key — a key re-delivered in a later batch UPDATES its row
    instead of duplicating it (exactly-once-by-key semantics)."""
    import os
    import time

    from rippledb_engine.streaming.sinks import start_upsert_parquet_sink

    d = tmp_path / "sink_src"
    d.mkdir()

    def ev(eid, ts, value):
        return {
            "event_id": eid, "ts": ts, "user_id": 1,
            "event_type": "click", "value": value, "props": "{}",
        }

    now = time.time()
    f0 = d / "part-000.json"
    f0.write_text(json.dumps(ev(1, "2024-01-01 10:00:00", 1.0)) + "\n"
                  + json.dumps(ev(2, "2024-01-01 10:01:00", 2.0)))
    os.utime(f0, (now - 20, now - 20))
    f1 = d / "part-001.json"
    f1.write_text(json.dumps(ev(2, "2024-01-01 10:05:00", 99.0)) + "\n"  # re-delivery of key 2
                  + json.dumps(ev(3, "2024-01-01 10:06:00", 3.0)))
    os.utime(f1, (now - 10, now - 10))

    stream = (
        spark.readStream.schema(SW.EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out_path = str(tmp_path / "sink_out")
    q = start_upsert_parquet_sink(
        stream, out_path, key="event_id", checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert got == {1: 1.0, 2: 99.0, 3: 3.0}  # key 2 updated, not duplicated


def test_foreachbatch_upsert_sink_replay_idempotent(spark, tmp_path):
    """Replay durability: re-delivering the SAME batches (fresh checkpoint
    → Structured Streaming re-runs every epoch, exactly what a failure/
    retry does) leaves the snapshot byte-for-byte equivalent — the
    idempotence property that lets the upsert sink stand in for a
    transactional sink at scale."""
    import os
    import time

    from rippledb_engine.streaming.sinks import start_upsert_parquet_sink

    d = tmp_path / "replay_src"
    d.mkdir()

    def ev(eid, ts, value):
        return {
            "event_id": eid, "ts": ts, "user_id": 1,
            "event_type": "click", "value": value, "props": "{}",
        }

    now = time.time()
    f0 = d / "part-000.json"
    f0.write_text(json.dumps(ev(1, "2024-01-01 10:00:00", 1.0)) + "\n"
                  + json.dumps(ev(2, "2024-01-01 10:01:00", 2.0)))
    os.utime(f0, (now - 20, now - 20))
    f1 = d / "part-001.json"
    f1.write_text(json.dumps(ev(2, "2024-01-01 10:05:00", 99.0)) + "\n"
                  + json.dumps(ev(3, "2024-01-01 10:06:00", 3.0)))
    os.utime(f1, (now - 10, now - 10))

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(SW.EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .json(str(d))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = start_upsert_parquet_sink(
            stream, out_path, key="event_id", checkpoint_dir=ckpt
        )
        q.awaitTermination(120)

    out_path = str(tmp_path / "replay_out")
    run(str(tmp_path / "ckpt_a"))
    first = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    # full replay of the same epochs against the EXISTING snapshot
    run(str(tmp_path / "ckpt_b"))
    second = sorted(map(tuple, spark.read.parquet(out_path).collect()))
    assert first == second
    assert {r[0] for r in first} == {1, 2, 3}


def test_windowed_topk_sink_matches_batch(spark, tmp_path):
    """Live windowed top-k (update-mode agg + foreachBatch merge-rank):
    after replaying all files, the snapshot equals the batch rank over the
    same events, including totals merged ACROSS micro-batches."""
    import os
    import time

    from pyspark.sql import Window as W
    from rippledb_engine.streaming.windows import start_windowed_topk_sink

    d = tmp_path / "topk_src"
    d.mkdir()

    def ev(eid, ts, uid, value):
        return {
            "event_id": eid, "ts": ts, "user_id": uid,
            "event_type": "click", "value": value, "props": "{}",
        }

    now = time.time()
    # user 1 accumulates across BOTH batches within one window
    f0 = d / "b0.json"
    f0.write_text("\n".join(json.dumps(r) for r in [
        ev(1, "2024-01-01 10:05:00", 1, 5.0),
        ev(2, "2024-01-01 10:10:00", 2, 7.0),
        ev(3, "2024-01-01 10:15:00", 3, 6.0),
        ev(4, "2024-01-01 11:05:00", 4, 1.0),
    ]))
    os.utime(f0, (now - 20, now - 20))
    f1 = d / "b1.json"
    f1.write_text("\n".join(json.dumps(r) for r in [
        ev(5, "2024-01-01 10:20:00", 1, 4.0),   # lifts user 1 to 9.0 → top
        ev(6, "2024-01-01 10:25:00", 5, 0.5),
    ]))
    os.utime(f1, (now - 10, now - 10))

    stream = (
        spark.readStream.schema(SW.EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    out = str(tmp_path / "topk_out")
    q = start_windowed_topk_sink(
        stream, out, k=2, checkpoint_dir=str(tmp_path / "topk_ckpt")
    )
    q.awaitTermination(120)

    got = sorted(
        (r["window_start"], r["user_id"], r["total_value"], r["rnk"])
        for r in spark.read.parquet(out).collect()
    )
    batch = (
        spark.read.json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "user_id", "total_value")
    )
    w = W.partitionBy("window_start").orderBy(F.desc("total_value"), F.asc("user_id"))
    want = sorted(
        (r["window_start"], r["user_id"], r["total_value"], r["rnk"])
        for r in batch.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .collect()
    )
    assert got == want
    # cross-batch merge actually happened: user 1's 10:00 window total is 9.0
    by_user = {(r[0].hour, r[1]): r[2] for r in got}
    assert by_user[(10, 1)] == 9.0


def test_snapshot_ready_treats_torn_overwrite_as_absent(spark, tmp_path):
    """A directory without the committer's _SUCCESS marker (torn
    mode('overwrite') crash) must read as 'absent' so the replayed batch
    rebuilds it instead of failing forever (ADVICE r3)."""
    import os

    from rippledb_engine.streaming.sinks import snapshot_ready

    p = str(tmp_path / "snap")
    assert not snapshot_ready(spark, p)  # truly absent
    os.makedirs(p)
    open(os.path.join(p, "part-00000.parquet"), "wb").close()
    assert not snapshot_ready(spark, p)  # torn: files but no marker
    spark.range(3).write.mode("overwrite").parquet(p)
    assert snapshot_ready(spark, p)  # complete snapshot


def test_ntriples_stream_into_queryable_store(spark, tmp_path):
    """Streaming RDF ingest end-to-end: .nt files land in a directory →
    file-source stream parses them → parquet store partitioned by
    predicate → TripleStore BGP query over the streamed-in data."""
    import os

    from rippledb_spark import TripleStore
    from rippledb_spark.plans.sparql import Sparql
    from rippledb_engine.streaming.rdf_stream import (
        read_ntriples_stream,
        start_store_append_sink,
    )

    src = tmp_path / "nt_in"
    os.makedirs(src)
    (src / "a.nt").write_text(
        "<http://e/alice> <http://e/knows> <http://e/bob> .\n"
        "# a comment line\n"
        '<http://e/alice> <http://e/name> "Alice" .\n'
    )
    (src / "b.nt").write_text(
        "<http://e/bob> <http://e/knows> <http://e/carol> .\n"
        "malformed line that should be skipped\n"
    )
    store_path = str(tmp_path / "store")
    q = start_store_append_sink(
        read_ntriples_stream(spark, str(src)),
        store_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    st = TripleStore.from_backup(spark, store_path)
    assert st.df.count() == 3  # comment + malformed dropped
    got = sorted(
        r["w"]
        for r in st.get(
            Sparql().select(["$w"]).filter([["$w", "http://e/knows", "$x"]])
        ).collect()
    )
    assert got == ["http://e/alice", "http://e/bob"]

    # a LATE-ARRIVING file is picked up by the next availableNow run
    # (exactly-once per file via the checkpoint: the first two files are
    # NOT re-ingested)
    (src / "c.nt").write_text("<http://e/carol> <http://e/knows> <http://e/dan> .\n")
    q2 = start_store_append_sink(
        read_ntriples_stream(spark, str(src)),
        store_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert TripleStore.from_backup(spark, store_path).df.count() == 4


def test_nquads_stream_into_queryable_dataset(spark, tmp_path):
    """Dataset-tier streaming ingest: .nq files land → file-source stream
    parses quads → parquet layout → QuadStore GRAPH query over the
    streamed-in dataset (the N-Triples test's shape, lifted to quads)."""
    import os

    from rippledb_spark.quadstore import QuadStore
    from rippledb_engine.streaming.rdf_stream import (
        read_nquads_stream,
        start_store_append_sink,
    )

    src = tmp_path / "nq_in"
    os.makedirs(src)
    (src / "a.nq").write_text(
        "<http://e/alice> <http://e/knows> <http://e/bob> <http://e/gA> .\n"
        "<http://e/alice> <http://e/knows> <http://e/carol> <http://e/gB> .\n"
        "<http://e/n1> <http://e/in> <http://e/r1> .\n"  # default graph
        "junk line skipped\n"
    )
    store_path = str(tmp_path / "qstore")
    q = start_store_append_sink(
        read_nquads_stream(spark, str(src)),
        store_path,
        checkpoint_dir=str(tmp_path / "qckpt"),
    )
    q.awaitTermination(120)

    ds = QuadStore.from_backup(spark, store_path)
    assert ds.df.count() == 3
    got = ds.sparql(
        "SELECT ?g ?x WHERE { GRAPH ?g { <http://e/alice> <http://e/knows> ?x } }"
    )
    assert sorted(tuple(r) for r in got.collect()) == [
        ("http://e/gA", "http://e/bob"),
        ("http://e/gB", "http://e/carol"),
    ]
    assert ds.default_graph().df.count() == 1


def test_upsert_sink_recovers_from_torn_overwrite(spark, tmp_path):
    """End-to-end torn-write recovery (ADVICE r3): simulate a crash
    mid-overwrite by deleting the _SUCCESS marker; the next run must
    treat the snapshot as absent and rebuild from its batch instead of
    failing forever on an unreadable directory."""
    import json
    import os
    import time

    from rippledb_engine.streaming import windows as SW
    from rippledb_engine.streaming.sinks import start_upsert_parquet_sink

    d = tmp_path / "torn_src"
    d.mkdir()

    def ev(eid, value):
        return {
            "event_id": eid, "ts": "2024-01-01 10:00:00", "user_id": 1,
            "event_type": "click", "value": value, "props": "{}",
        }

    now = time.time()
    f0 = d / "a.json"
    f0.write_text(json.dumps(ev(1, 1.0)))
    os.utime(f0, (now - 20, now - 20))

    def run():
        stream = (
            spark.readStream.schema(SW.EVENTS_DDL)
            .json(str(d))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        q = start_upsert_parquet_sink(
            stream, out, key="event_id", checkpoint_dir=str(tmp_path / "torn_ckpt")
        )
        q.awaitTermination(120)

    out = str(tmp_path / "torn_out")
    run()
    assert spark.read.parquet(out).count() == 1

    # tear the snapshot: files exist, no _SUCCESS (crash mid-overwrite)
    os.remove(os.path.join(out, "_SUCCESS"))
    # also corrupt a data file the way a partial write would
    part = [p for p in os.listdir(out) if p.startswith("part-")][0]
    with open(os.path.join(out, part), "wb") as fh:
        fh.write(b"torn")

    f1 = d / "b.json"
    f1.write_text(json.dumps(ev(2, 2.0)))
    os.utime(f1, (now - 5, now - 5))
    run()  # must NOT try to read the torn snapshot

    got = {r["event_id"] for r in spark.read.parquet(out).collect()}
    # key 1's row was lost with the torn snapshot (its batch already
    # committed); the rebuilt snapshot holds the new batch — and the
    # query completed instead of erroring permanently
    assert 2 in got


def test_foreachbatch_cdc_sink_folds_change_feed(spark, tmp_path):
    """Streaming CDC: a change feed (upserts + deletes ordered by seq)
    folds into a parquet snapshot micro-batch by micro-batch — latest
    change per key wins ACROSS batches, a winning delete removes the key,
    and a later re-insert brings it back."""
    import os
    import time

    from rippledb_engine.streaming.sinks import start_cdc_parquet_sink

    d = tmp_path / "cdc_src"
    d.mkdir()

    def ch(cid, seq, name, op):
        return json.dumps({"id": cid, "seq": seq, "name": name, "op": op})

    now = time.time()
    f0 = d / "b0.json"
    f0.write_text("\n".join([
        ch(1, 1, "alice", "insert"),
        ch(2, 1, "bob", "insert"),
        ch(3, 1, "carol", "insert"),
    ]))
    os.utime(f0, (now - 30, now - 30))
    f1 = d / "b1.json"
    f1.write_text("\n".join([
        ch(2, 2, "bob2", "update"),     # update across batches
        ch(3, 2, "x", "delete"),        # delete across batches
        ch(4, 2, "dave", "insert"),
        ch(4, 3, "x", "delete"),        # insert+delete within one batch → gone
    ]))
    os.utime(f1, (now - 20, now - 20))
    f2 = d / "b2.json"
    f2.write_text(ch(3, 3, "carol2", "insert"))  # re-insert after delete
    os.utime(f2, (now - 10, now - 10))

    stream = (
        spark.readStream.schema("id long, seq long, name string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
    )
    q = start_cdc_parquet_sink(
        stream,
        str(tmp_path / "cdc_out"),
        keys=["id"],
        sequence_cols=["seq"],
        op_col="op",
        checkpoint_dir=str(tmp_path / "cdc_ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["id"]: (r["name"], r["seq"])
        for r in spark.read.parquet(str(tmp_path / "cdc_out")).collect()
    }
    assert got == {1: ("alice", 1), 2: ("bob2", 2), 3: ("carol2", 3)}

    # replay from a fresh checkpoint over the SAME feed → identical snapshot
    q2 = start_cdc_parquet_sink(
        spark.readStream.schema("id long, seq long, name string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d)),
        str(tmp_path / "cdc_out"),
        keys=["id"],
        sequence_cols=["seq"],
        op_col="op",
        checkpoint_dir=str(tmp_path / "cdc_ckpt2"),
    )
    q2.awaitTermination(120)
    got2 = {
        r["id"]: (r["name"], r["seq"])
        for r in spark.read.parquet(str(tmp_path / "cdc_out")).collect()
    }
    assert got2 == got


def test_foreachbatch_cdc_sink_discards_cross_batch_straggler(spark, tmp_path):
    """A late change arriving in a LATER micro-batch with a LOWER sequence
    than the stored row's must NOT overwrite newer state — the sink folds
    with the sequence guard, so 'latest per key wins' holds across the
    whole feed, not just within a batch."""
    import os
    import time

    from rippledb_engine.streaming.sinks import start_cdc_parquet_sink

    d = tmp_path / "cdc_ooo_src"
    d.mkdir()
    now = time.time()
    f0 = d / "b0.json"
    f0.write_text(json.dumps({"id": 1, "seq": 5, "name": "newer", "op": "insert"}))
    os.utime(f0, (now - 30, now - 30))
    f1 = d / "b1.json"  # straggler batch: lower seq for key 1, stale delete for 2
    f1.write_text("\n".join([
        json.dumps({"id": 1, "seq": 3, "name": "stale", "op": "update"}),
        json.dumps({"id": 2, "seq": 1, "name": "ghost", "op": "insert"}),
    ]))
    os.utime(f1, (now - 20, now - 20))

    q = start_cdc_parquet_sink(
        spark.readStream.schema("id long, seq long, name string, op string")
        .option("maxFilesPerTrigger", 1)
        .json(str(d)),
        str(tmp_path / "cdc_ooo_out"),
        keys=["id"],
        sequence_cols=["seq"],
        op_col="op",
        checkpoint_dir=str(tmp_path / "cdc_ooo_ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r["id"]: (r["name"], r["seq"])
        for r in spark.read.parquet(str(tmp_path / "cdc_ooo_out")).collect()
    }
    # key 1 keeps the seq-5 row; key 2 (never seen before) inserts normally
    assert got == {1: ("newer", 5), 2: ("ghost", 1)}


def test_streaming_chunking_matches_batch(spark, tmp_path):
    """chunk_by_tokens is a pure flatMap-shaped projection, so the SAME
    operator runs unchanged on a stream — the ingest→chunk front half of
    a continuous training-data pipeline. Checked against the batch run."""
    import json as _json

    from rippledb_engine.operators.chunking import chunk_by_tokens

    docs = [
        {"doc_id": 1, "text": " ".join(f"w{i}" for i in range(11))},
        {"doc_id": 2, "text": "one two three"},
        {"doc_id": 3, "text": "solo"},
    ]
    d = tmp_path / "docs_stream"
    d.mkdir()
    (d / "p1.json").write_text("\n".join(_json.dumps(r) for r in docs))

    stream = spark.readStream.schema("doc_id long, text string").json(str(d))
    out = _run_stream(
        spark, chunk_by_tokens(stream, "text", "doc_id", 4, 1), "t_chunks",
        mode="append",
    )
    batch = chunk_by_tokens(
        spark.read.schema("doc_id long, text string").json(str(d)),
        "text", "doc_id", 4, 1,
    )
    key = lambda r: (r["doc_id"], r["chunk_no"], r["n_chunk_tokens"], r["chunk_text"])  # noqa: E731
    got, want = sorted(map(key, out.collect())), sorted(map(key, batch.collect()))
    assert got == want
    assert len(got) == 4 + 1 + 1  # 11 toks → 4 chunks (stride 3), 1, 1


def test_streaming_pii_scrub_matches_batch(spark, tmp_path):
    """scrub_pii is one stateless codegen projection, so the SAME operator
    runs unchanged on a stream — continuous-ingest redaction before any
    stateful stage. Checked against the batch run."""
    import json as _json

    from rippledb_engine.operators.pii import scrub_pii

    docs = [
        {"doc_id": 1, "text": "mail a@b.io and 10.0.0.1"},
        {"doc_id": 2, "text": "call 555-123-4567 now"},
        {"doc_id": 3, "text": "nothing sensitive"},
    ]
    d = tmp_path / "pii_stream"
    d.mkdir()
    (d / "p1.json").write_text("\n".join(_json.dumps(r) for r in docs))

    stream = spark.readStream.schema("doc_id long, text string").json(str(d))
    out = _run_stream(
        spark, scrub_pii(stream, "text", "doc_id"), "t_pii", mode="append"
    )
    batch = scrub_pii(
        spark.read.schema("doc_id long, text string").json(str(d)),
        "text", "doc_id",
    )
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, out.collect())) == sorted(map(key, batch.collect()))
    got = {r["id"]: r["scrubbed_text"] for r in out.collect()}
    assert got[1] == "mail <EMAIL> and <IP>"
    assert got[2] == "call <PHONE> now"
    assert got[3] == "nothing sensitive"


def test_streaming_url_dedup_matches_batch(spark, tmp_path):
    """url_normalize is a stateless codegen projection, so the SAME
    expression runs unchanged on a stream; composed with
    dropDuplicatesWithinWatermark on the canonical key it is the
    streaming form of crawl-frontier dedup — variants of one URL arriving
    within the watermark collapse to a single row."""
    import json as _json

    from rippledb_engine.functions.url import url_normalize

    fetches = [
        {"ts": "2024-01-01T00:00:01", "url": "https://Example.com/a?x=1&y=2"},
        {"ts": "2024-01-01T00:00:02", "url": "HTTPS://example.COM:443/a?y=2&x=1#f"},
        {"ts": "2024-01-01T00:00:03", "url": "https://example.com/a?utm_s=1&x=1&y=2"},
        {"ts": "2024-01-01T00:00:04", "url": "https://example.com/b"},
        {"ts": "2024-01-01T00:00:05", "url": "mailto:x@example.com"},
    ]
    d = tmp_path / "url_stream"
    d.mkdir()
    (d / "p1.json").write_text("\n".join(_json.dumps(r) for r in fetches))
    schema = "ts timestamp, url string"

    def canon(df):
        return (
            df.select(F.col("ts"), url_normalize("url").alias("u"))
            .where(F.col("u").isNotNull())
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["u"])
        )

    stream = spark.readStream.schema(schema).json(str(d))
    out = _run_stream(spark, canon(stream), "t_url_dedup", mode="append")
    urls = sorted(r["u"] for r in out.collect())
    assert urls == [
        "https://example.com/a?x=1&y=2",
        "https://example.com/b",
    ]
    # batch twin: same projection, dedup via groupBy-min
    batch = (
        spark.read.schema(schema).json(str(d))
        .select(url_normalize("url").alias("u"))
        .where(F.col("u").isNotNull())
        .distinct()
    )
    assert sorted(r["u"] for r in batch.collect()) == urls


def _warc_fixture(tmp_path):
    """Two .warc members of HTML pages: quality prose, a Gopher-failing
    repetitive page, a duplicate fetch of one URI (variant URL), and a
    non-HTTP record the frontier drops."""

    def record(uri, html):
        payload = html.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    # ≥50 words, varied vocabulary: passes every Gopher rule
    prose = (
        "<html><body><h1>Harbor</h1><p>the morning light settles over a"
        " quiet harbor while weathered fishermen haul heavy nets across"
        " wooden decks and hungry gulls wheel above the stone breakwater"
        " waiting for scraps of herring that spill from every crate as"
        " the tide turns slowly toward evening when lanterns begin to"
        " glow along the crooked pier where children count returning"
        " sails before supper and trade stories about distant storms"
        " that never quite reached this coast</p></body></html>"
    )
    junk = "<p>" + "buy now " * 120 + "</p>"
    d = tmp_path / "warc_stream"
    d.mkdir()
    (d / "a.warc").write_bytes(
        record("https://News.example.com/roast?utm_x=1", prose)
        + record("https://news.example.com:443/roast", prose)  # dup fetch
        + record("https://spam.example.net/junk", junk)
    )
    (d / "b.warc").write_bytes(
        record("https://news.example.com/water", prose.replace("harbor", "inlet"))
        + record("mailto:editor@example.com", "<p>not a web fetch</p>")
    )
    return str(d)


def test_streaming_crawl_pipeline_matches_batch(spark, tmp_path):
    """The r7 streaming crawl tier: WARC file-source stream → foreachBatch
    (HTML strip → Gopher gate → URI-keyed upsert snapshot) equals the
    batch twin over the same fixture — corpus rows AND per-host
    accounting. maxFilesPerTrigger=1 forces multiple micro-batches, so
    the cross-batch upsert path is exercised, not just a single batch."""
    from rippledb_engine.sources.warc import read_warc
    from rippledb_engine.streaming import crawl as SC

    warc_dir = _warc_fixture(tmp_path)
    snap = str(tmp_path / "corpus_snapshot")
    ckpt = str(tmp_path / "ckpt")

    from rippledb_engine.sources.warc import WARC_SCHEMA, warc_pandas_batches

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(stream, snap, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(snap)
    want = SC.gate_crawl_records(read_warc(spark, warc_dir))
    got_rows = sorted(map(tuple, got.select(*SC.CORPUS_COLS).collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows and len(got_rows) == 3  # dup + mailto gone

    # the gate actually gates: prose kept, repetitive junk dropped
    keeps = {r["uri"]: r["keep"] for r in got.collect()}
    assert keeps["https://news.example.com/roast"] is True
    assert keeps["https://spam.example.net/junk"] is False

    # accounting equality (the driver-facing rollup)
    acc_s = sorted(map(tuple, SC.crawl_accounting(got).collect()))
    acc_b = sorted(map(tuple, SC.crawl_accounting(want).collect()))
    assert acc_s == acc_b
    assert [a[0] for a in acc_s] == ["news.example.com", "spam.example.net"]


def test_streaming_crawl_cross_batch_duplicate_latest_fetch_wins(spark, tmp_path):
    """Duplicate fetches of one URI SPLIT ACROSS micro-batches, with the
    later-listed member holding the EARLIER fetch — the adversarial
    ordering for an upsert sink. The struct-max merge must still land on
    the latest fetch, equal to the batch twin (ADVICE r7)."""
    from rippledb_engine.sources.warc import WARC_SCHEMA, read_warc, warc_pandas_batches
    from rippledb_engine.streaming import crawl as SC

    def record(uri, html, date):
        payload = html.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: " + date.encode() + b"\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    words = " ".join(
        f"w{i} steady calm delta" for i in range(20)
    )  # varied enough for the gate
    d = tmp_path / "warc_xbatch"
    d.mkdir()
    # a.warc (first batch): the NEWER fetch; b.warc (second batch): an
    # older re-fetch of the same canonical URI with different text
    (d / "a.warc").write_bytes(
        record("https://x.example.org/page", f"<p>new {words}</p>",
               "2024-06-01T00:00:00Z")
    )
    (d / "b.warc").write_bytes(
        record("https://X.example.org:443/page", f"<p>old {words}</p>",
               "2024-01-01T00:00:00Z")
    )
    snap, ckpt = str(tmp_path / "snap_x"), str(tmp_path / "ckpt_x")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(stream, snap, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(snap).select(*SC.CORPUS_COLS).collect()
    assert len(got) == 1
    assert got[0]["warc_date"] == "2024-06-01T00:00:00Z"
    assert got[0]["text"].startswith("new ")
    want = SC.gate_crawl_records(read_warc(spark, str(d))).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_streaming_crawl_extracts_jsonld_graph_matching_batch(spark, tmp_path):
    """r8 structured-data stage: the SAME foreachBatch that gates pages
    also extracts their embedded application/ld+json islands into a
    TRIPLES_SCHEMA snapshot. Live stream (one file per micro-batch) must
    produce the exact triple set of the batch twin; junk pages' islands
    are gated out; malformed islands drop without killing the stream;
    the snapshot is TripleStore-queryable."""
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_spark.store import TripleStore
    from rippledb_engine.streaming import crawl as SC

    def record(uri, html):
        payload = html.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    words = (
        "the morning light settles over a quiet harbor while weathered"
        " fishermen haul heavy nets across wooden decks and hungry gulls"
        " wheel above the stone breakwater waiting for scraps of herring"
        " that spill from every crate as the tide turns slowly toward"
        " evening when lanterns begin to glow along the crooked pier"
    )
    island_a = (
        '{"@id":"ex:art1","@type":"ex:Article",'
        '"ex:author":{"ex:name":"Ann"},"ex:title":"First"}'
    )
    island_b = '{"@id":"ex:art2","ex:title":"Second"}'
    junk_island = '{"@id":"ex:spam","ex:title":"never extracted"}'
    good1 = (
        f"<html><head><script type=\"application/ld+json\">{island_a}"
        f"</script></head><body><p>{words}</p>"
        "<script type='application/ld+json'>not json {{{</script></body></html>"
    )
    good2 = (
        "<html><body><script other=1 type=\"application/LD+JSON\">"
        f"{island_b}</script><p>{words} extra tail</p></body></html>"
    )
    junk = (
        f"<script type=\"application/ld+json\">{junk_island}</script>"
        "<p>" + "buy now " * 120 + "</p>"
    )
    d = tmp_path / "warc_ld"
    d.mkdir()
    (d / "a.warc").write_bytes(
        record("https://news.example.com/a1", good1)
        + record("https://spam.example.net/j", junk)
    )
    (d / "b.warc").write_bytes(record("https://news.example.com/a2", good2))

    snap = str(tmp_path / "corpus_ld")
    tsnap = str(tmp_path / "triples_ld")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, str(tmp_path / "ckpt_ld"), triples_path=tsnap
    )
    q.awaitTermination(180)

    got = spark.read.parquet(tsnap)
    want = SC.extract_jsonld_triples(read_warc(spark, str(d)))
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.dropDuplicates().collect()))
    assert got_rows == want_rows and got_rows

    by_pred = {(r[0], r[2], r[3]) for r in got_rows}
    assert ("ex:art1", "ex:title", "First") in by_pred
    assert ("ex:art2", "ex:title", "Second") in by_pred
    # gated-out junk page contributed nothing; malformed island dropped
    assert not any(r[0] == "ex:spam" for r in got_rows)
    # the anonymous nested author got a fetch-scoped deterministic blank
    authors = [r for r in got_rows if r[2] == "ex:author"]
    assert len(authors) == 1 and authors[0][3].startswith("_:u")
    # and the snapshot is a queryable graph
    st = TripleStore.from_df(spark, got)
    names = st.df.where("p = 'ex:name'").select("o_value").collect()
    assert [r["o_value"] for r in names] == ["Ann"]


def test_streaming_crawl_media_features_match_batch(spark, tmp_path):
    """r8 media stage: the SAME foreachBatch decodes media fetches
    (PNG/GIF/JPEG/WAV/AVI by Content-Type) into a feature snapshot;
    stream (one file per batch) must equal the batch twin, corrupt
    payloads surface as decode_ok=false rows, non-media types pass by."""
    from rippledb_engine.operators.jpeg import encode_jpeg_gray
    from rippledb_engine.operators.multimodal import (
        encode_avi,
        encode_gif,
        encode_png,
        encode_wav,
    )
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC

    def record(uri, ctype, payload: bytes):
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-05-01T00:00:00Z\r\n"
            b"Content-Type: " + ctype.encode() + b"\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    from rippledb_engine.operators.mpeg1 import encode_mpeg1_intra

    png = encode_png(6, 4, bytes(range(24)))
    gif = encode_gif([(4, 3, 10), (4, 3, 20)])
    jpg = encode_jpeg_gray(16, 8, bytes(128))
    wav = encode_wav(8000, bytes(64))
    avi = encode_avi(5, 4, [bytes(20)], rle=False)
    mpg = encode_mpeg1_intra(
        16, 16, [(bytes([64]) * 256, bytes([128]) * 64, bytes([128]) * 64)] * 2
    )
    d = tmp_path / "warc_media"
    d.mkdir()
    (d / "a.warc").write_bytes(
        record("https://m.example.com/i.png", "image/png", png)
        + record("https://m.example.com/a.gif", "image/gif", gif)
        + record("https://m.example.com/broken.png", "image/png", b"nope")
        + record("https://m.example.com/page.html", "text/html", b"<p>x</p>")
    )
    (d / "b.warc").write_bytes(
        # parameterized Content-Type must reach the stage (r15: bare-type
        # normalization — exact isin previously passed it by)
        record("https://m.example.com/p.jpg", "image/jpeg; charset=binary", jpg)
        + record("https://m.example.com/s.wav", "audio/wav", wav)
        + record("https://m.example.com/v.avi", "video/x-msvideo", avi)
        + record("https://m.example.com/m.mpg", "video/mpeg", mpg)
    )
    snap = str(tmp_path / "corpus_m")
    msnap = str(tmp_path / "media_m")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, str(tmp_path / "ckpt_m"), media_path=msnap
    )
    q.awaitTermination(180)

    got = spark.read.parquet(msnap)
    want = SC.crawl_media_features(read_warc(spark, str(d)))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.dropDuplicates().collect())
    )
    by_uri = {r["uri"]: r for r in got.collect()}
    assert len(by_uri) == 7  # the html record never enters the stage
    assert by_uri["https://m.example.com/i.png"]["width"] == 6
    assert by_uri["https://m.example.com/i.png"]["decode_ok"] is True
    assert by_uri["https://m.example.com/a.gif"]["n_frames"] == 2
    assert by_uri["https://m.example.com/broken.png"]["decode_ok"] is False
    assert by_uri["https://m.example.com/p.jpg"]["width"] == 16
    assert by_uri["https://m.example.com/p.jpg"]["media_type"] == "image/jpeg"
    assert by_uri["https://m.example.com/s.wav"]["sample_rate"] == 8000
    assert by_uri["https://m.example.com/s.wav"]["n_samples"] == 32
    assert by_uri["https://m.example.com/v.avi"]["n_frames"] == 1
    assert by_uri["https://m.example.com/m.mpg"]["width"] == 16
    assert by_uri["https://m.example.com/m.mpg"]["n_frames"] == 2
    assert by_uri["https://m.example.com/m.mpg"]["decode_ok"] is True


def test_streaming_crawl_reader_matches_batch_reader(spark, tmp_path):
    """read_warc_stream shares the batch reader's parser — record sets
    must be identical over the same members."""
    from rippledb_engine.sources.warc import read_warc
    from rippledb_engine.streaming.crawl import read_warc_stream

    warc_dir = _warc_fixture(tmp_path)
    out = _run_stream(
        spark, read_warc_stream(spark, warc_dir), "t_warc_stream", mode="append"
    )
    s_rows = sorted(
        (r["target_uri"], r["content_length"], bytes(r["payload"]))
        for r in out.collect()
    )
    b_rows = sorted(
        (r["target_uri"], r["content_length"], bytes(r["payload"]))
        for r in read_warc(spark, warc_dir).collect()
    )
    assert s_rows == b_rows and len(s_rows) == 5


def test_streaming_crawl_incremental_pq_codes_match_batch(spark, tmp_path):
    """r9 (verdict ask #7): the crawl sink's incremental PQ-codes
    snapshot — codebook trained ONCE, each micro-batch encoding only its
    own kept winners via pq_encode — must equal the batch-twin encoding
    of the final corpus snapshot. maxFilesPerTrigger=1 forces the
    incremental path across multiple batches (including a cross-batch
    duplicate fetch of one URI), so the touched-URI code replacement is
    exercised, not just a single-shot encode."""
    from rippledb_engine.operators.pq import pq_encode
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC

    warc_dir = _warc_fixture(tmp_path)
    snap = str(tmp_path / "pq_corpus")
    pq_snap = str(tmp_path / "pq_codes")
    ckpt = str(tmp_path / "pq_ckpt")

    # train ONCE on the batch twin's corpus (the frozen production book)
    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    books = SC.train_crawl_pq_books(batch_corpus, dims=8, m=2, k=2)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, ckpt,
        pq_path=pq_snap, pq_books=books, pq_dims=8, pq_m=2,
    )
    q.awaitTermination(180)

    got = sorted(map(tuple, spark.read.parquet(pq_snap).collect()))
    # batch twin: encode the FINAL corpus snapshot's kept rows at once
    want_src = spark.read.parquet(snap).where(F.col("keep"))
    want = sorted(
        map(
            tuple,
            pq_encode(
                SC.corpus_text_embedding(want_src, dims=8),
                "emb", "uri", books, dims=8, m=2,
            ).select(F.col("pid").alias("uri"), "s", "cid").collect(),
        )
    )
    assert got == want and len(got) > 0
    # only KEPT docs are indexed (the junk page never gets codes)
    uris = {r[0] for r in got}
    assert "https://spam.example.net/junk" not in uris
    assert "https://news.example.com/roast" in uris
    # codes are one row per (kept uri, subspace)
    assert len(got) == len(uris) * 2


def test_crawl_sink_pq_path_requires_books(spark, tmp_path):
    import pytest

    from rippledb_engine.streaming import crawl as SC

    dummy = spark.readStream.format("rate").load()
    with pytest.raises(ValueError, match="pq_path requires pq_books"):
        SC.start_crawl_corpus_sink(
            dummy, str(tmp_path / "s"), str(tmp_path / "c"),
            pq_path=str(tmp_path / "p"),
        )


def test_streaming_crawl_incremental_ivfpq_codes_match_batch(spark, tmp_path):
    """r9: the ROUTED variant — with a frozen coarse quantizer the sink
    maintains the IVF-PQ inverted-list state incrementally, equal to a
    batch ivfpq_encode of the final corpus. r10: the state is persisted
    through the first-class index store (pq.save_cellcodes layout), so
    pq.load_index serves it back directly — codes partitioned by cell,
    frozen coarse/books beside them."""
    from rippledb_engine.operators.pq import ivfpq_encode, load_index
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC

    warc_dir = _warc_fixture(tmp_path)
    snap = str(tmp_path / "ivfpq_corpus")
    pq_snap = str(tmp_path / "ivfpq_codes")
    ckpt = str(tmp_path / "ivfpq_ckpt")

    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    coarse, books = SC.train_crawl_ivfpq_index(
        batch_corpus, dims=8, ncells=2, m=2, k=2
    )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, ckpt,
        pq_path=pq_snap, pq_books=books, pq_dims=8, pq_m=2,
        pq_coarse=coarse,
    )
    q.awaitTermination(180)

    lcoarse, lbooks, lcellcodes = load_index(spark, pq_snap)
    got = sorted(
        map(tuple, lcellcodes.select("pid", "cell", "s", "cid").collect())
    )
    want_src = SC.corpus_text_embedding(
        spark.read.parquet(snap).where(F.col("keep")), dims=8
    )
    assign, codes = ivfpq_encode(
        want_src, "emb", "uri", coarse, books, dims=8, m=2
    )
    want = sorted(
        map(
            tuple,
            codes.join(assign, "pid")
            .select("pid", "cell", "s", "cid")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    # the snapshot IS a loadable index: frozen quantizers round-trip too
    assert sorted(map(tuple, lcoarse.collect())) == sorted(
        map(tuple, coarse.collect())
    )
    assert sorted(map(tuple, lbooks.collect())) == sorted(
        map(tuple, books.collect())
    )
    # and the codes table is cell-partitioned on disk (pruning layout)
    import os as _os

    assert any(
        d.startswith("cell=") for d in _os.listdir(f"{pq_snap}/codes")
    )


def test_streaming_crawl_frontier_snapshot_matches_batch(spark, tmp_path):
    """r10: the frontier side-snapshot — each micro-batch's raw html
    yields links, the FROZEN redirect map folds chains to terminals
    (loops dropped), robots gates the finals, and the allowed (host,
    url) set merges idempotently. Equal to the batch composition over
    all fetches at once, including a duplicate fetch spanning files."""
    from rippledb_engine.functions.url import url_host, url_normalize
    from rippledb_engine.operators.frontier import (
        extract_frontier_links,
        gate_frontier,
        resolve_frontier,
    )
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC

    def record(uri, html):
        payload = html.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    page_a = (
        '<html><body><a href="https://ex.org/old1">m</a>'
        "<a href='/keep'>k</a><a href='/loopa'>l</a></body></html>"
    )
    page_b = (
        '<html><body><a href="https://ex.org/old2">m</a>'
        "<a href='/blockme'>b</a></body></html>"
    )
    d = tmp_path / "warc_frontier"
    d.mkdir()
    (d / "a.warc").write_bytes(
        record("https://ex.org/p1", page_a)
        + record("https://ex.org/p1?utm=1", page_a)  # dup fetch, same links
    )
    (d / "b.warc").write_bytes(record("https://other.net/p2", page_b))

    # frozen inputs: old1 -> old2 -> final (chains converge), loopa <-> loopb
    redirects = spark.createDataFrame(
        [
            ("https://ex.org/old1", "https://ex.org/old2"),
            ("https://ex.org/old2", "https://ex.org/final"),
            ("https://ex.org/loopa", "https://ex.org/loopb"),
            ("https://ex.org/loopb", "https://ex.org/loopa"),
        ],
        "from_url string, to_url string",
    ).localCheckpoint(eager=True)
    robots = spark.createDataFrame(
        [
            ("ex.org", ""),
            # page_b's relative /blockme resolves against ITS host
            ("other.net", "User-agent: *\nDisallow: /block"),
        ],
        "host string, robots string",
    ).localCheckpoint(eager=True)

    snap = str(tmp_path / "frontier_corpus")
    fsnap = str(tmp_path / "frontier_snap")
    ckpt = str(tmp_path / "frontier_ckpt")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, ckpt,
        frontier_path=fsnap, frontier_redirects=redirects,
        frontier_robots=robots,
    )
    q.awaitTermination(180)

    got = sorted(
        map(tuple, spark.read.parquet(fsnap).select("host", "url").collect())
    )
    # batch twin: same composition over all fetches at once
    import pyspark.sql.functions as F

    raw = read_warc(spark, str(d)).select(
        url_host(url_normalize("target_uri")).alias("host"),
        F.col("payload").cast("string").alias("html"),
    ).where(F.col("host").isNotNull())
    links = extract_frontier_links(raw, "host", "html")
    gated = gate_frontier(
        resolve_frontier(links, redirects), robots
    )
    want = sorted(
        map(
            tuple,
            gated.where(F.col("allowed"))
            .select("host", "url")
            .dropDuplicates(["url"])
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    urls = {u for _, u in got}
    # chains from BOTH pages converge on one terminal fetch
    assert "https://ex.org/final" in urls
    assert not any("old" in u or "loop" in u for u in urls)  # no mid-chain/loop
    assert "https://ex.org/keep" in urls
    assert not any("/blockme" in u for u in urls)  # robots-gated


def test_streaming_incremental_hll_matches_batch(spark, tmp_path):
    """r10: incremental sketch maintenance — a foreachBatch sink keeps
    an HLL register snapshot merged per micro-batch (per-register max,
    idempotent under replay); after the stream drains, the snapshot's
    registers and estimate are IDENTICAL to the batch single-pass form
    over all rows — the mergeability contract, live."""
    import json as _json

    import pyspark.sql.functions as F

    from rippledb_engine.operators.sketches import (
        hll_estimate_from_registers,
        hll_merge_registers,
        hll_registers,
    )
    from rippledb_engine.streaming.sinks import snapshot_ready

    d = tmp_path / "hll_stream"
    d.mkdir()
    for part in range(3):
        rows = [
            {"grp": f"g{i % 2}", "v": f"tok{(i * 7 + part * 331) % 500}"}
            for i in range(400)
        ]
        (d / f"part{part}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
    snap = str(tmp_path / "hll_snapshot")
    ckpt = str(tmp_path / "hll_ckpt")

    def merge_batch(batch_df, batch_id):
        sp = batch_df.sparkSession
        regs = hll_registers(batch_df, "v", "grp")
        if snapshot_ready(sp, snap):
            regs = hll_merge_registers(sp.read.parquet(snap), regs)
        regs.localCheckpoint(eager=True).write.mode("overwrite").parquet(snap)

    stream = spark.readStream.schema("grp string, v string").option(
        "maxFilesPerTrigger", 1
    ).json(str(d))
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.read.schema("grp string, v string").json(str(d))
    want_regs = sorted(
        map(tuple, hll_registers(batch_df, "v", "grp").collect())
    )
    got_regs = sorted(map(tuple, spark.read.parquet(snap).collect()))
    assert got_regs == want_regs and len(got_regs) > 0
    want_est = sorted(
        map(
            tuple,
            hll_estimate_from_registers(
                hll_registers(batch_df, "v", "grp")
            ).collect(),
        )
    )
    got_est = sorted(
        map(
            tuple,
            hll_estimate_from_registers(spark.read.parquet(snap)).collect(),
        )
    )
    assert got_est == want_est


def test_streaming_incremental_anomaly_matches_batch(spark, tmp_path):
    """r11: the rolling-anomaly detector's streaming twin — a
    foreachBatch sink maintains per-(type, day) counts keyed by batch id
    (replay-idempotent, unlike a running sum); after the stream drains,
    rolling_zscores over the folded snapshot is IDENTICAL to the batch
    daily_counts → rolling_zscores fold over all rows."""
    import json as _json

    import pyspark.sql.functions as F

    from rippledb_engine.operators.anomaly import daily_counts, rolling_zscores
    from rippledb_engine.streaming.sinks import (
        daily_counts_from_snapshot,
        start_daily_count_sink,
    )

    d = tmp_path / "anom_stream"
    d.mkdir()
    # 12 days × 2 types; day 10 of type a spikes 8x — with a 3-day
    # trailing window the spike must flag and nothing else should
    for part in range(3):
        rows = []
        for day in range(part * 4, part * 4 + 4):
            for t in ("a", "b"):
                n = 40 if (t, day) == ("a", 10) else 5 + (day % 2)
                rows += [
                    {"ts": f"2024-02-{day + 1:02d} 0{i % 10}:00:00", "event_type": t}
                    for i in range(n)
                ]
        (d / f"part{part}.json").write_text(
            "\n".join(_json.dumps(r) for r in rows)
        )
    snap = str(tmp_path / "anom_snapshot")
    ckpt = str(tmp_path / "anom_ckpt")
    schema = "ts timestamp, event_type string"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(d))
    q = start_daily_count_sink(stream, snap, ckpt)
    q.awaitTermination(120)

    got_daily = sorted(
        map(tuple, daily_counts_from_snapshot(spark, snap).collect())
    )
    batch_df = spark.read.schema(schema).json(str(d))
    want_daily = sorted(map(tuple, daily_counts(batch_df, "ts", "event_type").collect()))
    assert got_daily == want_daily and len(got_daily) == 24

    got = sorted(map(tuple, rolling_zscores(
        daily_counts_from_snapshot(spark, snap), window=3
    ).collect()))
    want = sorted(map(tuple, rolling_zscores(
        daily_counts(batch_df, "ts", "event_type"), window=3
    ).collect()))
    assert got == want and len(got) > 0
    flagged = {(r[0], str(r[1])) for r in got if r[6]}
    assert ("a", "2024-02-11") in flagged  # the planted spike

    # replay-idempotency: re-running the LAST batch's merge must leave
    # the snapshot unchanged (foreachBatch's failure contract)
    from rippledb_engine.streaming.sinks import snapshot_ready

    assert snapshot_ready(spark, snap)
    last_batch = spark.read.parquet(snap).agg(
        F.max("src_batch").alias("m")
    ).collect()[0]["m"]
    # drive the sink's merge logic directly with the same batch id and
    # the same per-batch counts (what a foreachBatch replay recomputes):
    # without the src_batch drop this would double-count that batch
    counts = spark.read.parquet(snap).where(
        F.col("src_batch") == last_batch
    )
    prior = spark.read.parquet(snap).where(F.col("src_batch") != last_batch)
    merged = prior.unionByName(counts).localCheckpoint(eager=True)
    re_daily = sorted(map(tuple, merged.groupBy("event_type", "d").agg(
        F.sum("n").cast("bigint").alias("n")
    ).collect()))
    assert re_daily == got_daily


def test_streaming_crawl_classifier_gate_matches_batch(spark, tmp_path):
    """r11: the trained classifier as the streaming crawl sink's
    quality gate — a FROZEN model (trained once, here on planted labels
    over the batch corpus) decides keep per micro-batch; the drained
    snapshot equals the batch twin (gate + apply_classifier_gate), and
    the decision differs from the Gopher rule where the model says so."""
    from rippledb_engine.operators.classifier import (
        TEXT_FEATURE_DIMS,
        hashed_text_features,
        logistic_train,
    )
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC

    import pyspark.sql.functions as F

    warc_dir = _warc_fixture(tmp_path)
    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    # planted trainable labels: long prose = good, dense repetition = bad
    feats = hashed_text_features(
        batch_corpus.select("uri", "text"), "text", "uri"
    )
    labeled = feats.join(
        batch_corpus.select("uri", (F.col("top2_frac") < 0.2).cast("double").alias("y")),
        "uri",
    )
    model = logistic_train(
        labeled, "x", "y", TEXT_FEATURE_DIMS, iterations=12, lr=2.0
    )

    snap = str(tmp_path / "clf_snapshot")
    ckpt = str(tmp_path / "clf_ckpt")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(stream, snap, ckpt, quality_model=model)
    q.awaitTermination(180)

    got = sorted(
        map(tuple, spark.read.parquet(snap).select(*SC.CORPUS_COLS).collect())
    )
    want = sorted(
        map(
            tuple,
            SC.apply_classifier_gate(batch_corpus, model).collect(),
        )
    )
    assert got == want and len(got) == 3
    keeps = {r[0]: r[-1] for r in got}  # uri -> keep (CORPUS_COLS order)
    assert keeps["https://news.example.com/roast"] is True
    assert keeps["https://spam.example.net/junk"] is False


def test_streaming_triple_cdc_sink_matches_batch_apply_diff(spark, tmp_path):
    """r12: the version-feed consumer — a foreachBatch sink folds
    diff batches into a live triple snapshot; after the stream drains
    the snapshot is SET-EQUAL to the batch apply_diff chain (and to
    the target version directly)."""
    import pyspark.sql.functions as F

    from rippledb_spark.store import TripleStore
    from rippledb_engine.streaming.sinks import start_triple_cdc_sink

    v0 = TripleStore.from_rows(
        spark,
        [("a", "p", "x"), ("b", "p", "y"), ("c", "q", "z")],
    )
    v1 = v0.remove([("b", "p", "y")]).insert(
        [("d", "p", "w"), ("e", "q", "x")]
    )
    v2 = v1.remove([("e", "q", "x"), ("c", "q", "z")]).insert(
        [("f", "r", "v")]
    )
    d01 = v0.diff(v1)
    d12 = v1.diff(v2)

    feed_dir = tmp_path / "cdc_feed"
    feed_dir.mkdir()
    # the incremental-consumer cadence: the feed directory GROWS between
    # availableNow runs; the checkpoint hands each new step to its own
    # micro-batch in arrival order
    d01.coalesce(1).write.parquet(str(feed_dir / "step1"))
    schema = spark.read.parquet(str(feed_dir / "step1")).schema
    snap = str(tmp_path / "cdc_snapshot")
    ckpt = str(tmp_path / "cdc_ckpt")
    # bootstrap: the consumer starts from the base version's snapshot
    # (the feed describes changes FROM v0, not from the empty store)
    v0.df.write.parquet(snap)

    def _drain():
        stream = spark.readStream.schema(schema).parquet(
            str(feed_dir / "step*")
        )
        start_triple_cdc_sink(stream, snap, ckpt).awaitTermination(120)

    _drain()
    mid = TripleStore(spark, spark.read.parquet(snap))
    assert mid.diff(v1).count() == 0  # snapshot live at version 1
    d12.coalesce(1).write.parquet(str(feed_dir / "step2"))
    _drain()

    folded = TripleStore(spark, spark.read.parquet(snap))
    batch = v0.apply_diff(d01).apply_diff(d12)
    assert folded.diff(batch).count() == 0  # streaming == batch fold
    assert folded.diff(v2).count() == 0  # == the target version
    assert folded.count() == v2.count() == 3

    # multi-step batch with a version column: e inserted in step 1 and
    # deleted in step 2 must end ABSENT — the ordered fold guarantees it
    both = d01.withColumn("v", F.lit(1)).unionByName(
        d12.withColumn("v", F.lit(2))
    )
    onefile = tmp_path / "cdc_feed_one"
    onefile.mkdir()
    both.coalesce(1).write.parquet(str(onefile / "all"))
    stream2 = (
        spark.readStream.schema(
            spark.read.parquet(str(onefile / "all")).schema
        )
        .parquet(str(onefile / "all"))
    )
    snap2 = str(tmp_path / "cdc_snapshot2")
    v0.df.write.parquet(snap2)
    q2 = start_triple_cdc_sink(
        stream2, snap2, str(tmp_path / "cdc_ckpt2"), version_col="v"
    )
    q2.awaitTermination(120)
    folded2 = TripleStore(spark, spark.read.parquet(snap2))
    assert folded2.diff(v2).count() == 0
    assert folded2.pattern("e", None, None).count() == 0


def _warc_fixture_rich(tmp_path):
    """Six distinct Gopher-passing pages across two .warc members plus
    one junk page — enough kept vectors for a non-degenerate PCA
    rotation (the 2-doc _warc_fixture corpus is rank-1 after
    centering, which a power-iteration deflation rightly refuses)."""

    def record(uri, html):
        payload = html.encode()
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            b"Content-Type: text/html\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    themes = [
        ("harbor", "fishermen", "nets", "gulls", "herring", "pier"),
        ("valley", "farmers", "plows", "crows", "barley", "barn"),
        ("desert", "nomads", "tents", "hawks", "dates", "oasis"),
        ("forest", "rangers", "trails", "owls", "acorns", "cabin"),
        ("glacier", "climbers", "ropes", "terns", "lichen", "ridge"),
        ("meadow", "shepherds", "crooks", "larks", "clover", "fence"),
    ]
    pages = []
    for n, (a, b, c, dd, e, f) in enumerate(themes):
        pages.append(
            (
                f"https://site{n}.example.org/page",
                f"<html><body><p>the morning light settles over a quiet"
                f" {a} while weathered {b} haul heavy {c} across wooden"
                f" decks and hungry {dd} wheel above the stone breakwater"
                f" waiting for scraps of {e} that spill from every crate"
                f" as the tide turns slowly toward evening when lanterns"
                f" begin to glow along the crooked {f} where children"
                f" count returning sails before supper and trade stories"
                f" about distant storms that never quite reached this"
                f" coast</p></body></html>",
            )
        )
    junk = "<p>" + "buy now " * 120 + "</p>"
    d = tmp_path / "warc_stream_rich"
    d.mkdir()
    (d / "a.warc").write_bytes(
        b"".join(record(u, h) for u, h in pages[:3])
        + record("https://spam.example.net/junk", junk)
    )
    (d / "b.warc").write_bytes(
        b"".join(record(u, h) for u, h in pages[3:])
    )
    return str(d)


def test_streaming_crawl_rotated_pq_serving_matches_batch(spark, tmp_path):
    """r12 (verdict ask #6): the crawl sink's ROTATED-PQ index — OPQ
    rotation frozen at train time, each micro-batch rotating its own
    kept winners through rotate_with_frozen before encoding — must (a)
    maintain codes equal to the batch twin's rotate+encode of the final
    corpus snapshot, and (b) serve rotated_query_topk off
    load_rotated_index(pq_path) identically to the batch rotated-ADC
    over the same snapshot — proving the rotation survives the
    save/load/serve path inside the streaming pipeline."""
    from rippledb_engine.operators.opq import (
        load_rotated_index,
        rotate_with_frozen,
        rotated_query_topk,
    )
    from rippledb_engine.operators.pq import pq_encode, pq_query_topk
    from rippledb_engine.sources.warc import WARC_SCHEMA, read_warc, warc_pandas_batches
    from rippledb_engine.streaming import crawl as SC

    warc_dir = _warc_fixture_rich(tmp_path)
    snap = str(tmp_path / "rpq_corpus")
    pq_snap = str(tmp_path / "rpq_index")
    ckpt = str(tmp_path / "rpq_ckpt")

    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    means, comps, books = SC.train_crawl_rotated_index(
        batch_corpus, dims=8, r=2, m=2, k=2
    )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, ckpt,
        pq_path=pq_snap, pq_books=books, pq_dims=8, pq_m=2,
        pq_rotation=(means, comps), pq_r=2,
    )
    q.awaitTermination(180)

    # (a) codes == batch rotate+encode of the final corpus snapshot
    want_src = spark.read.parquet(snap).where(F.col("keep"))
    rv = rotate_with_frozen(
        SC.corpus_text_embedding(want_src, dims=8),
        "emb", "uri", means, comps, 8,
    ).select(F.col("uri").alias("pid"), "rv")
    want_codes = sorted(
        map(tuple, pq_encode(rv, "rv", "pid", books, dims=2, m=2).collect())
    )
    got_codes = sorted(
        map(tuple, spark.read.parquet(f"{pq_snap}/codes").collect())
    )
    assert got_codes == want_codes and len(got_codes) > 0
    uris = {r[0] for r in got_codes}
    assert "https://spam.example.net/junk" not in uris

    # (b) frozen serving off the SAVED index == batch rotated-ADC
    queries = SC.corpus_text_embedding(
        want_src.orderBy("uri").limit(2), dims=8
    ).select(F.col("uri").alias("q_pid"), F.col("emb").alias("qv"))
    l_means, l_comps, l_codes, l_books = load_rotated_index(spark, pq_snap)
    got = sorted(map(tuple, rotated_query_topk(
        queries, l_means, l_comps, l_codes, l_books,
        dims=8, r=2, m=2, topk=3,
    ).collect()))
    rq = rotate_with_frozen(queries, "qv", "q_pid", means, comps, 8).select(
        "q_pid", F.col("rv").alias("qv")
    )
    want = sorted(map(tuple, pq_query_topk(
        rq, books,
        pq_encode(rv, "rv", "pid", books, dims=2, m=2),
        dims=2, m=2, topk=3,
    ).collect()))
    assert got == want and len(got) > 0


def test_streaming_crawl_langid_gate_matches_batch(spark, tmp_path):
    """r12: the trained lang-ID gate inside the crawl sink — a FROZEN
    softmax model ANDs its language decision into keep per micro-batch;
    the drained snapshot must equal the batch twin (gate_crawl_records
    → apply_langid_gate) row for row."""
    from rippledb_engine.operators.langid import (
        char_ngram_hash_features,
        softmax_train,
    )
    from rippledb_engine.sources.warc import WARC_SCHEMA, read_warc, warc_pandas_batches
    from rippledb_engine.streaming import crawl as SC

    # planted 4-language trainer (the certified query's fixture shape)
    words = [
        "".join(chr(97 + 6 * k + (v + i) % 6) for i in range(3))
        for k in range(4)
        for v in range(6)
    ]
    rows = []
    for did in range(40):
        lang = did % 4
        text = " ".join(
            words[lang * 6 + (7 * did + 13 * i) % 6]
            for i in range(12 + did % 5)
        )
        rows.append((did, lang, text))
    train = spark.createDataFrame(rows, "doc_id long, y int, text string")
    feats = char_ngram_hash_features(train, "text", "doc_id", dims=16).join(
        train.select("doc_id", "y"), "doc_id"
    )
    model = softmax_train(feats, "x", "y", 16, 4, iterations=4, lr=2.0)

    warc_dir = _warc_fixture_rich(tmp_path)
    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    allowed = (0, 2)
    want = sorted(
        map(
            tuple,
            SC.apply_langid_gate(batch_corpus, model, allowed).collect(),
        )
    )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    snap = str(tmp_path / "lid_corpus")
    q = SC.start_crawl_corpus_sink(
        stream, snap, str(tmp_path / "lid_ckpt"),
        langid_model=model, langid_allowed=allowed,
    )
    q.awaitTermination(180)
    snap_df = spark.read.parquet(snap)
    got = sorted(map(tuple, snap_df.collect()))
    assert got == want and len(got) > 0
    # the junk page fails the Gopher gate regardless of language, so
    # the AND composition must keep it False
    junk = snap_df.where(
        F.col("uri") == "https://spam.example.net/junk"
    ).collect()
    assert len(junk) == 1 and junk[0]["keep"] is False


def test_streaming_crawl_alternating_pq_serving_matches_batch(spark, tmp_path):
    """r12: the crawl sink's FULL-OPQ index — the frozen Givens
    trajectory replays per micro-batch on top of the PCA rotation —
    must (a) maintain codes equal to the batch twin's
    rotate→replay→encode of the final corpus snapshot, and (b) serve
    alternating_query_topk off load_alternating_index(pq_path)
    identically to the batch alternating ADC on the same snapshot."""
    from rippledb_engine.operators.opq import (
        alternating_query_topk,
        apply_frozen_rotations,
        load_alternating_index,
        rotate_with_frozen,
    )
    from rippledb_engine.operators.pq import pq_encode, pq_query_topk
    from rippledb_engine.sources.warc import WARC_SCHEMA, read_warc, warc_pandas_batches
    from rippledb_engine.streaming import crawl as SC

    warc_dir = _warc_fixture_rich(tmp_path)
    snap = str(tmp_path / "apq_corpus")
    pq_snap = str(tmp_path / "apq_index")
    ckpt = str(tmp_path / "apq_ckpt")

    batch_corpus = SC.gate_crawl_records(read_warc(spark, warc_dir))
    means, comps, givens, books = SC.train_crawl_alternating_index(
        batch_corpus, dims=8, r=2, m=2, k=2, rounds=1
    )

    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(warc_dir)
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, ckpt,
        pq_path=pq_snap, pq_books=books, pq_dims=8, pq_m=2,
        pq_rotation=(means, comps), pq_r=2, pq_givens=givens,
    )
    q.awaitTermination(180)

    # (a) codes == batch rotate → trajectory replay → encode
    want_src = spark.read.parquet(snap).where(F.col("keep"))
    rv = apply_frozen_rotations(
        rotate_with_frozen(
            SC.corpus_text_embedding(want_src, dims=8),
            "emb", "uri", means, comps, 8,
        ).select(F.col("uri").alias("pid"), "rv"),
        givens, 2,
    )
    want_codes = sorted(
        map(tuple, pq_encode(rv, "rv", "pid", books, dims=2, m=2).collect())
    )
    got_codes = sorted(
        map(tuple, spark.read.parquet(f"{pq_snap}/codes").collect())
    )
    assert got_codes == want_codes and len(got_codes) > 0

    # (b) frozen serving off the SAVED index == batch alternating ADC
    queries = SC.corpus_text_embedding(
        want_src.orderBy("uri").limit(2), dims=8
    ).select(F.col("uri").alias("q_pid"), F.col("emb").alias("qv"))
    got = sorted(map(tuple, alternating_query_topk(
        queries, *load_alternating_index(spark, pq_snap),
        dims=8, r=2, m=2, topk=3,
    ).collect()))
    rq = apply_frozen_rotations(
        rotate_with_frozen(queries, "qv", "q_pid", means, comps, 8)
        .select(F.col("q_pid").alias("pid"), "rv"),
        givens, 2,
    ).select(F.col("pid").alias("q_pid"), F.col("rv").alias("qv"))
    want = sorted(map(tuple, pq_query_topk(
        rq, books,
        pq_encode(rv, "rv", "pid", books, dims=2, m=2),
        dims=2, m=2, topk=3,
    ).collect()))
    assert got == want and len(got) > 0


def test_streaming_media_dedup_matches_batch(spark, tmp_path):
    """r14 media dedup screen: the SAME foreachBatch fingerprints media
    fetches (dispatched aHash / audio fingerprint / video aHash, keyed
    by canonical URI), merges a hash snapshot, and re-derives the global
    drop decision per batch. Final /hashes and /drops snapshots must
    equal the batch twin over all members at once — including a
    CROSS-FORMAT image duplicate (same pixels as PNG and JPEG) and a
    cross-BATCH exact audio duplicate; min-URI-keeps picks the
    lexicographically first URI."""
    from rippledb_engine.operators.imagehash import near_dup_drops_by_kind
    from rippledb_engine.operators.jpeg import encode_jpeg_gray
    from rippledb_engine.operators.multimodal import encode_png, encode_wav
    from rippledb_engine.sources.warc import (
        WARC_SCHEMA,
        read_warc,
        warc_pandas_batches,
    )
    from rippledb_engine.streaming import crawl as SC
    import struct

    def record(uri, ctype, payload: bytes):
        return (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + uri.encode() + b"\r\n"
            b"WARC-Date: 2024-05-01T00:00:00Z\r\n"
            b"Content-Type: " + ctype.encode() + b"\r\n"
            b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
            b"\r\n" + payload + b"\r\n\r\n"
        )

    # block-constant field -> the PNG and the JPEG decode identically
    w, h = 16, 16
    px = bytes(
        (37 * ((y // 8) * 2 + x // 8 + 1) ** 2 + 11) % 256
        for y in range(h)
        for x in range(w)
    )
    px_other = bytes((191 * ((y // 8) * 2 + x // 8) + 13) % 256
                     for y in range(h) for x in range(w))
    samples = struct.pack(
        "<2080h", *[((t // 32) % 53 + 9) * (t % 32 - 16) for t in range(2080)]
    )
    samples2 = struct.pack(
        "<2080h", *[((t * 7) % 31 - 15) for t in range(2080)]
    )
    d = tmp_path / "warc_media_dedup"
    d.mkdir()
    (d / "a.warc").write_bytes(
        record("https://m.example.com/a.png", "image/png", encode_png(w, h, px))
        + record("https://m.example.com/b.jpg", "image/jpeg",
                 encode_jpeg_gray(w, h, px))  # cross-format dup of a.png
        # parameterized Content-Type must reach the screen (r15: bare-type
        # normalization) — an exact dup that would previously slip through
        + record("https://m.example.com/z.png", "image/png; charset=binary",
                 encode_png(w, h, px))
        + record("https://m.example.com/s1.wav", "audio/wav",
                 encode_wav(8000, samples))
        + record("https://m.example.com/broken.png", "image/png", b"nope")
    )
    (d / "b.warc").write_bytes(
        record("https://m.example.com/c.png", "image/png",
               encode_png(w, h, px_other))  # distinct image survives
        + record("https://m.example.com/s2.wav", "audio/wav",
                 encode_wav(8000, samples))  # cross-batch dup of s1.wav
        + record("https://m.example.com/s3.wav", "audio/wav",
                 encode_wav(8000, samples2))
    )
    snap = str(tmp_path / "corpus_md")
    mdsnap = str(tmp_path / "media_dedup")
    stream = (
        spark.readStream.format("binaryFile")
        .schema(SC.BINARY_FILE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
        .select("path", "content")
    ).mapInPandas(warc_pandas_batches, schema=WARC_SCHEMA)
    q = SC.start_crawl_corpus_sink(
        stream, snap, str(tmp_path / "ckpt_md"), media_dedup_path=mdsnap
    )
    q.awaitTermination(180)

    got_hashes = sorted(
        map(tuple, spark.read.parquet(f"{mdsnap}/hashes").collect())
    )
    got_drops = sorted(
        map(tuple, spark.read.parquet(f"{mdsnap}/drops").collect())
    )
    # batch twin: same operators over all members at once
    want_hashes = SC.crawl_media_hashes(read_warc(spark, str(d)))
    assert got_hashes == sorted(map(tuple, want_hashes.collect()))
    assert got_drops == sorted(
        map(tuple, near_dup_drops_by_kind(want_hashes).collect())
    )
    # planted decisions: the JPEG twin of a.png drops (min-URI keeps
    # a.png), s2.wav drops against s1.wav ACROSS batches, distinct items
    # survive, the broken PNG never enters the table
    drops = {(r[0], r[1]) for r in got_drops}
    assert ("https://m.example.com/b.jpg", "image") in drops
    assert ("https://m.example.com/z.png", "image") in drops
    assert ("https://m.example.com/s2.wav", "audio") in drops
    kept = {r[0] for r in got_hashes} - {u for u, _ in drops}
    assert "https://m.example.com/a.png" in kept
    assert "https://m.example.com/c.png" in kept
    assert "https://m.example.com/s1.wav" in kept
    assert "https://m.example.com/s3.wav" in kept
    assert not any("broken" in r[0] for r in got_hashes)
