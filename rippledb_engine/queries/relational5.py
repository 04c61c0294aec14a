"""Relational engine tier, part 5: the window/aggregate surface not yet
exercised — distribution functions (percent_rank, cume_dist), numeric
RANGE frames (value-based, not time-based), positional explode (UDTF
shape), GROUPING() subtotal labeling over ROLLUP, and the boolean/
conditional aggregate family (count_if, bool_and/bool_or, min_by/max_by).

Each query is one operator family's canonical composition with a DuckDB
oracle; scale notes inline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from rippledb_engine.registry import query
from rippledb_engine.tables import load


@query(
    "percentile_rank_suppliers",
    oracle="""
    SELECT s_suppkey, s_name,
           CAST(ROUND(PERCENT_RANK() OVER (ORDER BY s_acctbal, s_suppkey), 6)
                AS DOUBLE) AS bal_pct_rank,
           CAST(ROUND(CUME_DIST() OVER (ORDER BY s_acctbal, s_suppkey), 6)
                AS DOUBLE) AS bal_cume_dist
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def percentile_rank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: each supplier's account-balance
    percentile rank and cumulative distribution. The unpartitioned window
    is the one serializing shape (fine on a 100-row dimension); for a
    fact-sized input, partition by a bucketing key and compose — the
    operator itself is the point here. Total order via (acctbal, suppkey)
    so ranks are engine-independent."""
    s = load(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return (
        s.select(
            "s_suppkey",
            "s_name",
            F.round(F.percent_rank().over(w), 6).cast("double").alias("bal_pct_rank"),
            F.round(F.cume_dist().over(w), 6).cast("double").alias("bal_cume_dist"),
        )
        .orderBy("s_suppkey")
    )


@query(
    "price_band_neighbors",
    oracle="""
    SELECT p_partkey, p_retailprice,
           COUNT(*) OVER (ORDER BY p_retailprice
                          RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING)
             AS n_in_band
    FROM part
    ORDER BY p_partkey
    LIMIT 200
    """,
)
def price_band_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric RANGE frame (value-based, not row- or time-based): for each
    part, how many parts price within ±$50. The frame bound is a VALUE
    offset over the ORDER BY column — the window shape row frames cannot
    express. Count is order-insensitive inside the frame, so the
    non-unique price ordering is safe; output limited by partkey for a
    stable driver row set."""
    p = load(spark, sf_dir, "part")
    w = Window.orderBy("p_retailprice").rangeBetween(-50, 50)
    return (
        p.select(
            "p_partkey",
            "p_retailprice",
            F.count(F.lit(1)).over(w).alias("n_in_band"),
        )
        .orderBy("p_partkey")
        .limit(200)
    )


@query(
    "posexplode_token_positions",
    oracle="""
    SELECT t.pos, COUNT(*) AS n_docs,
           CAST(ROUND(AVG(LENGTH(t.tok)), 4) AS DOUBLE) AS avg_len
    FROM (
      SELECT doc_id,
             unnest(generate_series(0, LEAST(4, len(string_split(text, ' ')) - 1)))
               AS pos,
             unnest(list_slice(string_split(text, ' '),
                    1, LEAST(5, len(string_split(text, ' '))))) AS tok
      FROM documents
    ) t
    GROUP BY t.pos ORDER BY t.pos
    """,
)
def posexplode_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (the UDTF-with-ordinality shape): first five
    token slots across the corpus, with mean token length per slot —
    position-sensitive lead-text analysis. posexplode emits (pos, val)
    pairs inside codegen; aggregation key is a constant 5 positions."""
    d = load(spark, sf_dir, "documents")
    first5 = F.slice(F.split("text", " "), 1, 5)
    return (
        d.select(F.posexplode(first5).alias("pos", "tok"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg(F.length("tok")), 4).cast("double").alias("avg_len"),
        )
        .orderBy("pos")
    )


@query(
    "rollup_with_grouping_id",
    oracle="""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS BIGINT) AS gid,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
    """,
)
def rollup_with_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() labeling: the grouping id distinguishes a
    real 'ALL' value from a subtotal row — the disambiguation COALESCE
    alone cannot provide. Spark computes rollups via Expand (one pass,
    no re-scan per level); gid = grouping(status)·2 + grouping(priority)
    matches DuckDB's bit convention."""
    o = load(spark, sf_dir, "orders")
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("bigint")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(gid.alias("gid"), F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n_orders",
        )
        .orderBy("gid", "status", "priority")
    )


@query(
    "boolean_aggregates_by_nation",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) FILTER (WHERE c.c_acctbal > 0) AS BIGINT)
             AS n_positive,
           BOOL_AND(c.c_acctbal > -999) AS all_above_floor,
           BOOL_OR(c.c_acctbal > 9000) AS any_rich,
           CAST(MIN_BY(c.c_custkey, ROUND(c.c_acctbal, 2)) AS BIGINT)
             AS poorest_custkey,
           CAST(MAX_BY(c.c_custkey, ROUND(c.c_acctbal, 2)) AS BIGINT)
             AS richest_custkey
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY nation ORDER BY nation
    """,
)
def boolean_aggregates_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boolean/conditional aggregate family in one pass: count_if,
    bool_and/bool_or, and argmin/argmax (min_by/max_by) per nation — all
    map-side-combinable, one shuffle on the 25-key nation column.
    min_by/max_by tie-break is engine-defined, so the ordering value is
    rounded to the same 2dp on both sides and the synthetic balances are
    distinct at that precision."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    bal2 = F.round("c_acctbal", 2)
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("nation")
        .agg(
            F.count_if(F.col("c_acctbal") > 0).alias("n_positive"),
            F.bool_and(F.col("c_acctbal") > -999).alias("all_above_floor"),
            F.bool_or(F.col("c_acctbal") > 9000).alias("any_rich"),
            F.min_by("c_custkey", bal2).cast("bigint").alias("poorest_custkey"),
            F.max_by("c_custkey", bal2).cast("bigint").alias("richest_custkey"),
        )
        .orderBy("nation")
    )


@query(
    "approx_percentile_event_values",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6)  AS exact_p50,
           ROUND(quantile_cont(value, 0.9), 6)  AS exact_p90,
           ROUND(quantile_cont(value, 0.99), 6) AS exact_p99,
           TRUE AS p50_in_window,
           TRUE AS p90_in_window,
           TRUE AS p99_in_window
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_percentile_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch, accuracy=10000 →
    rank error <= 1e-4) per event type — SELF-VERIFYING: the same agg
    computes the exact interpolating percentiles and asserts each sketch
    value lands inside the exact (q-0.01, q+0.01) rank window, a 100×
    looser bound than the sketch's guarantee. The oracle recomputes the
    exact percentiles and expects the windows to hold, so the sketch tier
    is hash-certified against its exact twin in one job.

    Sketches merge associatively, so the agg is one map-side-combinable
    shuffle at any scale — exact percentiles at 100 TB would need a full
    sort per group; the exact side here is the certification twin."""
    e = load(spark, sf_dir, "events")

    def in_window(q: float, lo: float, hi: float) -> F.Column:
        approx = F.percentile_approx("value", q, 10000)
        return approx.between(
            F.expr(f"percentile(value, {lo})"), F.expr(f"percentile(value, {hi})")
        )

    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("exact_p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("exact_p90"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("exact_p99"),
            in_window(0.5, 0.49, 0.51).alias("p50_in_window"),
            in_window(0.9, 0.89, 0.91).alias("p90_in_window"),
            in_window(0.99, 0.985, 0.995).alias("p99_in_window"),
        )
        .orderBy("event_type")
    )


@query(
    "percentile_rank_customers_bucketed",
    oracle="""
    SELECT c_custkey,
           CAST(ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal, c_custkey), 6)
                AS DOUBLE) AS bal_pct_rank,
           CAST(ROUND(CUME_DIST() OVER (ORDER BY c_acctbal, c_custkey), 6)
                AS DOUBLE) AS bal_cume_dist
    FROM customer
    ORDER BY c_custkey
    """,
)
def percentile_rank_customers_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank/cume_dist via the SCALED composition (operators/
    distribution.py): approx-percentile cut-points → bucket → rank within
    bucket + offset. Exactly equal to the global-window form (the oracle
    IS the global-window SQL) but with no single-partition WindowExec —
    each of the 16 quantile buckets windows independently, so the plan
    survives a fact-sized input where `percentile_rank_suppliers`'s
    dimension-sized global window would serialize."""
    from rippledb_engine.operators.distribution import bucketed_percent_rank

    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    ranked = bucketed_percent_rank(
        c, "c_acctbal", ["c_custkey"], n_buckets=16,
        rank_col="bal_pct_rank", cume_col="bal_cume_dist",
    )
    return (
        ranked.select(
            "c_custkey",
            F.round("bal_pct_rank", 6).cast("double").alias("bal_pct_rank"),
            F.round("bal_cume_dist", 6).cast("double").alias("bal_cume_dist"),
        )
        .orderBy("c_custkey")
    )


@query(
    "price_band_neighbors_banded",
    oracle="""
    SELECT p_partkey, p_retailprice,
           COUNT(*) OVER (ORDER BY p_retailprice
                          RANGE BETWEEN 50 PRECEDING AND 50 FOLLOWING)
             AS n_in_band
    FROM part
    ORDER BY p_partkey
    LIMIT 200
    """,
)
def price_band_neighbors_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numeric RANGE frame via the SCALED composition (operators/
    distribution.py:banded_range_count): floor(value/50) band id → ±1
    band dictionary join → refinement sum. Same oracle as
    `price_band_neighbors` (the global-window form), proving the banded
    plan exact; but the only shuffles are an aggregate and an equi-join
    on the band id — no global sort, no single-partition WindowExec, so
    the plan survives a fact-sized input."""
    from rippledb_engine.operators.distribution import banded_range_count

    p = load(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    return (
        banded_range_count(p, "p_retailprice", 50.0)
        .orderBy("p_partkey")
        .limit(200)
    )
