"""HTTP redirect-chain resolution (engine tier — the crawl-frontier step
between URL canonicalization and fetching): collapse 301/302/308 chains
to their terminal URL so the frontier dedups and the corpus attributes
content to ONE canonical address. Every production crawler caps the
chain (browsers and curl default to ~20 hops; pipelines usually 5–16)
and treats a loop or an over-long chain as a dead URL — this operator
reproduces exactly that contract.

Semantics: the input is a redirect edge list (from_url → to_url). A URL
with several recorded redirect targets (re-fetches disagreeing over
time) deterministically keeps the lexicographically smallest target —
upstream latest-fetch-wins collapsing belongs to the fetch-merge step
(streaming/crawl.py); HERE determinism is what matters, because the
DuckDB oracle must replay the walk. Output, one row per distinct source
URL:

    (url, final_url, n_hops, resolved)

``resolved`` is true iff the chain reaches a URL with no outgoing
redirect within ``max_hops`` hops; loops and over-long chains yield
(NULL, NULL, false) — never a partial answer (the
dag_longest_path_layers refusal philosophy, softened to a row-level
flag because one looping URL must not kill a 100 TB frontier).

Scale shape: state is one row per distinct source URL; each hop is one
key-shuffled left join against the (deduped) edge table with
checkpoint-truncated lineage, and the loop exits as soon as a hop moves
nothing — ≤ max_hops joins total, never a transitive closure. The walk
is hop-at-a-time (not pointer-doubling) BECAUSE max_hops is a small
protocol constant: 16 cheap joins beat log₂(16) self-joins of a table
that doubles its reach (and hop counts stay exact for the oracle).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from rippledb_engine.operators.graph import _truncate


def resolve_redirect_chains(
    edges: DataFrame,
    src: str = "from_url",
    dst: str = "to_url",
    max_hops: int = 16,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(url, final_url, n_hops, resolved); see module doc."""
    if max_hops <= 0:
        raise ValueError("max_hops must be positive")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .where(F.col("u") != F.col("v"))
        .groupBy("u")
        .agg(F.min("v").alias("v"))
    )
    e = _truncate(e, checkpoint_dir)
    state = e.select(
        F.col("u").alias("url"),
        F.col("u").alias("cur"),
        F.lit(0).cast("bigint").alias("hops"),
    )
    hop = e.select(F.col("u").alias("cur"), F.col("v").alias("__nxt"))
    # the per-round union would DOUBLE the partition count every hop when
    # the edge side broadcasts (stay ∪ moved = 2× partitions, and no
    # exchange ever resets it — measured 65k-task stages by hop 16), so
    # every round re-partitions the state back to a fixed width on url
    n_part = max(4, state.sparkSession.sparkContext.defaultParallelism // 4)
    for _ in range(max_hops):
        step = state.join(hop, "cur", "left")
        moved = step.where(F.col("__nxt").isNotNull())
        if moved.limit(1).count() == 0:
            break
        state = _truncate(
            step.where(F.col("__nxt").isNull())
            .select("url", "cur", "hops")
            .unionByName(
                moved.select(
                    "url",
                    F.col("__nxt").alias("cur"),
                    (F.col("hops") + 1).alias("hops"),
                )
            )
            .repartition(n_part, "url"),
            checkpoint_dir,
        )
    # resolved iff the terminal has no outgoing redirect — loops and
    # chains longer than max_hops still sit on a redirecting node here
    out = state.join(
        hop.select("cur", F.lit(True).alias("__more")).distinct(),
        "cur",
        "left",
    ).select(
        "url",
        F.when(F.col("__more").isNull(), F.col("cur")).alias("final_url"),
        F.when(F.col("__more").isNull(), F.col("hops")).alias("n_hops"),
        F.col("__more").isNull().alias("resolved"),
    )
    return out


def resolve_redirect_chains_sql(
    table: str, src: str, dst: str, max_hops: int = 16
) -> str:
    """DuckDB recursive-CTE twin; yields ``redirects_resolved`` with the
    same four columns. The recursion steps one hop at a time with the
    same deterministic min-target edge dedup and the same hop bound."""
    if max_hops <= 0:
        raise ValueError("max_hops must be positive")
    return f"""rr_e AS (
      SELECT {src} AS u, MIN({dst}) AS v FROM {table}
      WHERE {src} <> {dst} GROUP BY {src}
    ),
    rr_walk AS (
      SELECT u AS url, u AS cur, CAST(0 AS BIGINT) AS hops FROM rr_e
      UNION ALL
      SELECT w.url, e.v, w.hops + 1
      FROM rr_walk w JOIN rr_e e ON e.u = w.cur
      WHERE w.hops < {max_hops}
    ),
    rr_final AS (
      SELECT url, cur, hops FROM (
        SELECT url, cur, hops,
               row_number() OVER (PARTITION BY url ORDER BY hops DESC)
                 AS rn
        FROM rr_walk
      ) WHERE rn = 1
    ),
    redirects_resolved AS (
      SELECT f.url,
             CASE WHEN e.u IS NULL THEN f.cur END AS final_url,
             CASE WHEN e.u IS NULL THEN f.hops END AS n_hops,
             (e.u IS NULL) AS resolved
      FROM rr_final f LEFT JOIN rr_e e ON e.u = f.cur
    )"""
