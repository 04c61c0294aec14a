"""Graph analytics over the triples DataFrame (engine tier).

The reference is a triple STORE with no analytics (SURVEY §2.4); these are
the batch graph operators a Spark-native engine adds on the same data:
degree centrality (pure aggregation) and PageRank (iterative DataFrame
loop — the canonical non-SQL-expressible operator class).

PySpark has no GraphX bindings; DataFrame iteration with persist/checkpoint
discipline IS the idiomatic PySpark formulation for bounded-iteration
graph algorithms.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from rippledb_spark.errors import QueryError
from rippledb_engine.operators._itergc import (
    iteration_conf as _iteration_conf,
    iteration_partitions as _iteration_partitions,
    release_iteration_garbage as _release_iteration_garbage,
)


def _truncate(df: DataFrame, checkpoint_dir: str | None, eager: bool = True) -> DataFrame:
    """Cut the iterative plan's lineage.

    ``checkpoint_dir=None`` → ``localCheckpoint`` (executor-local blocks;
    fast, but on a real cluster an executor loss makes iteration state
    unrecoverable). A directory → RELIABLE ``checkpoint()`` to that path
    (HDFS/S3/...), the 100×-safe form for long iterative jobs: state
    survives executor churn at the cost of a filesystem write per round.

    ``eager=False`` still truncates the CATALYST plan immediately (the
    returned DataFrame wraps a LogicalRDD leaf either way, so analysis
    cost stays flat across iterations) but defers materialization: the
    checkpoint RDD computes — and caches — inside the NEXT action's job
    instead of one scheduled job per iteration. For a loop that only
    probes convergence on a cadence this collapses N per-iteration jobs
    into one job per probe window, a pure scheduling-overhead win; the
    blocks still cache at first computation, so lineage never re-executes.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    sc.setCheckpointDir(checkpoint_dir)
    return df.checkpoint(eager=eager)


def _undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge set (u, v): symmetric closure of the
    input, self-loops dropped, distinct — the shared prep for every
    undirected-graph operator (label propagation, k-core, ...)."""
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    return (
        fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def degrees(triples: DataFrame) -> DataFrame:
    """Per-node out/in degree over named→named edges (entity graph only —
    literal objects are attributes, not edges)."""
    edges = triples.filter(F.col("o_kind") == "named").select("s", "o_value")
    out_deg = edges.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = edges.groupBy(F.col("o_value").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def connected_components(
    edges: DataFrame,
    iterations: int | None = None,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by min-label propagation over UNDIRECTED edges.

    comp(v) ← min(comp(v), min comp over neighbors), iterated; labels are
    the node strings themselves (min = lexicographic), so the result is
    deterministic with no id assignment step.

    ``iterations=None`` (default) iterates to the exact fixpoint —
    min-propagation terminates in ≤ diameter rounds, and the exit test is
    exact (count of changed labels == 0), not a sampled heuristic, so an
    under-provisioned bound can't silently return partial components.
    Passing an int bounds work at that many rounds (the registered query
    uses a fixed count so the DuckDB recursive-CTE oracle computes the
    identical partial fixpoint); the early exit still fires if the graph
    converges sooner, which by exactness cannot change the result.

    Same checkpoint-per-iteration discipline as :func:`pagerank`;
    ``checkpoint_dir`` switches to reliable checkpoints (see _truncate).
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = fwd.unionByName(fwd.select(F.col("b").alias("a"), F.col("a").alias("b")))
    e_raw = _truncate(und, checkpoint_dir)
    n_edges = e_raw.count()  # sizes the iteration shuffles (_iteration_conf)
    # Pre-hash the (checkpointed) edge list on the per-iteration join key:
    # every round then shuffles only the label table (see pagerank's e2).
    parts = _iteration_partitions(edges.sparkSession, n_edges)
    e = _truncate(e_raw.repartition(parts, "b"), checkpoint_dir)
    nodes = _truncate(e.select(F.col("a").alias("node")).distinct(), checkpoint_dir)
    comp = nodes.withColumn("comp", F.col("node"))

    it = 0
    with _iteration_conf(edges.sparkSession, n_edges):
        while iterations is None or it < iterations:
            it += 1
            neighbor_min = (
                e.join(comp, e.b == comp.node)
                .select(F.col("a").alias("node"), F.col("comp"))
                .groupBy("node")
                .agg(F.min("comp").alias("nmin"))
            )
            # Keep the pre-update label alongside (same trick as pagerank's
            # old_rank): the convergence test is then a filter over the
            # already-checkpointed result, not a second join job.
            new_comp = _truncate(
                comp.join(neighbor_min, "node", "left_outer").select(
                    "node",
                    F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias("comp"),
                    F.col("comp").alias("old_comp"),
                ),
                checkpoint_dir,
            )
            comp = new_comp.drop("old_comp")
            changed = (
                new_comp.filter(F.col("comp") != F.col("old_comp")).limit(1).count()
            )
            if changed == 0:
                break  # labels only decrease → exact fixpoint reached
    _release_iteration_garbage(comp)
    return comp


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
    convergence_check_every: int = 3,
) -> DataFrame:
    """PageRank via iterative joins (ranks initialized to 1.0).

    Each iteration: contribution = rank/out_degree shuffled along edges,
    rank' = (1-d) + d·Σ contributions. Dangling nodes keep the teleport
    term. Every iteration ends in ``localCheckpoint`` — persisting alone is
    NOT enough for iterative DataFrames: the logical plan doubles each
    round and Catalyst analysis time grows superlinearly (measured 4s→40s
    from 3→6 iterations before truncation). Checkpointing makes each
    iteration's plan a leaf, keeping per-iteration cost flat.
    """
    from pyspark.sql import Window

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    n_edges = e.count()  # sizes iteration shuffles AND the edge partitioning

    with _iteration_conf(edges.sparkSession, n_edges):
        # The contribution WEIGHT 1/out_degree rides on the edge list
        # (computed once) — each iteration then multiplies instead of
        # joining degrees and dividing per edge. A count-window over src
        # builds it in ONE shuffle (vs groupBy + join + repartition = 3),
        # and its output is already HASH-PARTITIONED ON src at the loop's
        # own partition count (the build runs inside _iteration_conf, so
        # the window shuffle picks up `parts`): every iteration's
        # contribution join then reuses the cached partitioning and
        # shuffles ONLY the rank table — at 100 TB that is the difference
        # between moving the edge list once and moving it every iteration.
        # Skew note: the window colocates each src's out-edges in one task
        # — the same hub-bound as the explicit repartition(src) it
        # replaces, bounded by max out-degree, with an added in-partition
        # sort; at web-graph out-degrees (≤ ~10⁶) that is in-memory cheap.
        # e2/nodes have STATIC lineage, so lazy persist suffices
        # (materialized inside iteration 1's job); only the
        # iteratively-growing `ranks` needs localCheckpoint truncation.
        e2 = e.withColumn(
            "w", F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("src"))
        ).persist()
        nodes = (
            e2.select(F.col("src").alias("node"))
            .unionByName(e2.select(F.col("dst").alias("node")))
            .distinct()
            .persist()
        )
        ranks = nodes.withColumn("rank", F.lit(1.0))

        for it in range(iterations):
            contribs = (
                e2.join(ranks, e2.src == ranks.node)
                .select(F.col("dst").alias("node"), (F.col("rank") * F.col("w")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("csum"))
            )
            # `ranks` carries exactly the node set (initialized from `nodes`),
            # so joining contribs onto it both updates the rank and keeps the
            # previous value alongside — the convergence test below is then a
            # filter over this already-checkpointed result instead of a second
            # join job per iteration.
            new_ranks = (
                ranks.withColumnRenamed("rank", "old_rank")
                .join(contribs, "node", "left_outer")
                .select(
                    "node",
                    (F.lit(1.0 - damping) + F.lit(damping) * F.coalesce("csum", F.lit(0.0))).alias(
                        "rank"
                    ),
                    "old_rank",
                )
            )
            # EAGER truncation, deliberately: a lazy checkpoint chain was
            # measured SLOWER here (probe at it=2: 1.7 s lazy vs 0.1 s
            # eager at sf0.1) — deferring materialization serializes the
            # probe-window iterations into one long job and makes every
            # cadence probe recompute the window, while eager keeps probes
            # a cache-read. Scheduling overhead per iteration job is not
            # the dominant cost at any tested scale.
            new_ranks = _truncate(new_ranks, checkpoint_dir)
            # Exact-fixpoint early exit: identical inputs recompute bit-identical
            # ranks, so delta hits exactly 0 once converged (e.g. a bipartite DAG
            # converges in depth+1 rounds) — the remaining iterations are no-ops
            # and skipping them cannot change the result. The probe is one Spark
            # job per check, which on a non-converging graph is pure overhead —
            # so it runs on a cadence (every ``convergence_check_every``-th
            # iteration), trading at most cadence−1 no-op iterations after the
            # true fixpoint for cadence× fewer probe jobs. Iteration 1 always
            # changes (init is uniform 1.0); the final iteration's probe is
            # pointless (the loop ends regardless).
            ranks = new_ranks.drop("old_rank")
            if 0 < it < iterations - 1 and (it + 1) % convergence_check_every == 0:
                changed = (
                    new_ranks.filter(F.col("rank") != F.col("old_rank")).limit(1).count()
                )
                if changed == 0:
                    break

    # The final ranks are a checkpointed leaf, so the helper caches are no
    # longer needed — release them now rather than waiting for the context
    # cleaner (repeated calls would otherwise accumulate blocks and thrash
    # the block manager / GC).
    e2.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    _release_iteration_garbage(ranks)
    return ranks


def bfs_reachability(
    edges: DataFrame,
    sources: DataFrame | list[str],
    iterations: int = 8,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source BFS: (node, dist) for every node reachable from the
    source set within ``iterations`` hops, dist = exact shortest hop count
    (min-distance propagation — the transitive-closure / reachability tier
    the reference's fixed-shape Graph::get cannot express).

    Scale shape mirrors :func:`pagerank`: the frontier expansion is one
    shuffle-join per round against a checkpointed distance table; GROUP BY
    node keeps state one row per reached node (never per-path — path
    enumeration explodes combinatorially on dense graphs). Exact-fixpoint
    early exit: once (row count, dist sum) repeats, further rounds are
    no-ops.
    """
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame([(s,) for s in sources], ["node"])
    reached = sources.select("node").distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )
    e = _truncate(e, checkpoint_dir)
    n_edges = e.count()  # sizes the iteration shuffles (_iteration_conf)
    # Pre-hash on the frontier-join key (see pagerank's e2 rationale).
    parts = _iteration_partitions(spark, n_edges)
    e = _truncate(e.repartition(parts, "a"), checkpoint_dir)
    prev_stats = None
    with _iteration_conf(spark, n_edges):
        for _ in range(iterations):
            step = e.join(reached, e.a == reached.node).select(
                F.col("b").alias("node"), (F.col("dist") + F.lit(1)).alias("dist")
            )
            reached = _truncate(
                reached.unionByName(step).groupBy("node").agg(F.min("dist").alias("dist")),
                checkpoint_dir,
            )
            row = reached.agg(
                F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")
            ).collect()[0]
            stats = (row["n"], row["s"])
            if stats == prev_stats:
                break  # distances only shrink and nodes only accrue → fixpoint
            prev_stats = stats
    _release_iteration_garbage(reached)
    return reached


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by DETERMINISTIC label propagation over
    UNDIRECTED edges → DataFrame(node, label): each round every node
    adopts the most frequent label among its neighbors, ties broken by
    the lexicographically smallest label, isolated opinions kept
    (Raghavan et al. 2007, made deterministic: synchronous updates +
    total-order tie-break, no RNG — identical labels on every engine
    and run).

    Runs EXACTLY ``rounds`` synchronous rounds (LPA can oscillate on
    bipartite structures, so a convergence test is not well-defined; a
    fixed count is also what lets a SQL oracle unroll the identical
    computation). Each round: one join of the edge list against the
    label table, one (node, label) count aggregate, and one min-struct
    argmax — the tie-break rides in ``min(struct(-count, label))``, so
    no window over high-degree nodes."""
    und = _undirected_edges(edges, src, dst)
    n_edges = und.persist().count()
    with _iteration_conf(edges.sparkSession, n_edges):
        e = _truncate(und.repartition(
            _iteration_partitions(edges.sparkSession, n_edges), "v"
        ), checkpoint_dir)
        labels = _truncate(
            e.select(F.col("u").alias("node")).distinct().withColumn(
                "label", F.col("node")
            ),
            checkpoint_dir,
        )
        for _ in range(rounds):
            nbr = (
                e.join(labels, e.v == labels.node)
                .select(F.col("u").alias("n2"), "label")
                .groupBy("n2", "label")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            best = nbr.groupBy("n2").agg(
                F.min(F.struct((-F.col("c")).alias("nc"), F.col("label"))).alias("b")
            )
            labels = _truncate(
                labels.join(best, labels.node == best.n2, "left_outer").select(
                    "node", F.coalesce(F.col("b.label"), F.col("label")).alias("label")
                ),
                checkpoint_dir,
            )
    und.unpersist(blocking=False)
    _release_iteration_garbage(labels)
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """The k-core of an undirected simple graph → DataFrame(node):
    the maximal subgraph where every node has degree ≥ k, by iterative
    peeling (Matula & Beck 1983; Seidman 1983 "Network structure and
    minimum degree") — each round drops nodes whose degree WITHIN the
    surviving set falls below k, until nothing changes.

    Rounds needed = the peeling depth (how many onion layers sit outside
    the core), typically far below the node count; each round is two
    semi-joins of the edge list against the (shrinking) survivor set and
    one degree hash-agg, with the usual checkpoint truncation. The
    fixpoint test is exact (survivor count stable ⇔ no node dropped ⇔
    every survivor already has ≥ k surviving neighbors)."""
    if k < 1:
        raise QueryError("k must be >= 1")
    spark = edges.sparkSession
    und = _undirected_edges(edges, src, dst)
    n_edges_est = und.persist().count()
    converged = False
    with _iteration_conf(spark, n_edges_est):
        surv = _truncate(und.select("u").distinct(), checkpoint_dir)
        prev = surv.count()
        for _ in range(max_rounds):
            live = und.join(surv, "u", "left_semi").join(
                surv.withColumnRenamed("u", "v"), "v", "left_semi"
            )
            surv = _truncate(
                live.groupBy("u")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= k)
                .select("u"),
                checkpoint_dir,
            )
            n = surv.count()
            if n == prev:
                converged = True
                break
            prev = n
    und.unpersist(blocking=False)
    if not converged:
        # refuse loudly: a silently-partial core is indistinguishable
        # from the real one downstream (peeling depth exceeded the round
        # budget — raise max_rounds; depth is bounded by the node count)
        raise QueryError(
            f"k_core did not reach its fixpoint within {max_rounds} rounds"
        )
    out = surv.select(F.col("u").alias("node"))
    _release_iteration_garbage(out)
    return out


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame | list[str],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Multi-source WEIGHTED shortest paths → (node, dist): minimal total
    edge weight from the nearest source, Bellman-Ford-style relaxation
    (the weighted sibling of :func:`bfs_reachability`; non-negative
    weights assumed, as usual for distributed relaxation).

    Each round relaxes ONLY the frontier — nodes whose distance improved
    last round — against the (cached, src-partitioned) edge list, then
    min-folds into the checkpointed distance table; a round with no
    improvement is the exact fixpoint (≤ V rounds by Bellman-Ford, ≤
    weighted-diameter/min-edge in practice). The frontier filter is the
    delta-stepping-lite optimization: without it every round re-relaxes
    every settled node (V×E total work); with it total relaxation work is
    Σ frontier×degree, which on expander-ish graphs is O(E·diameter) but
    typically far less.
    """
    spark = edges.sparkSession
    e = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b"), F.col(weight).cast("double").alias("w")
    )
    if not isinstance(sources, DataFrame):
        sources = spark.createDataFrame([(s,) for s in sources], ["node"])
    n_edges = e.count()  # sizes the iteration shuffles (_iteration_conf)
    parts = _iteration_partitions(spark, n_edges)
    with _iteration_conf(spark, n_edges):
        e = _truncate(e.repartition(parts, "a"), checkpoint_dir)
        dist = _truncate(
            sources.select("node").distinct().withColumn("dist", F.lit(0.0)),
            checkpoint_dir,
        )
        frontier = dist
        drained = False
        for _ in range(max_iterations):
            relaxed = e.join(frontier, e.a == frontier.node).select(
                F.col("b").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
            )
            # carry the previous distance alongside the min-fold so the
            # next frontier is a FILTER on the checkpointed result (the
            # pagerank old_rank trick): improved ⇔ dist < old (old NULL =
            # newly reached)
            folded = _truncate(
                dist.withColumnRenamed("dist", "old")
                .join(
                    relaxed.groupBy("node").agg(F.min("dist").alias("new")),
                    "node",
                    "full_outer",
                )
                .select(
                    "node",
                    F.least(
                        F.coalesce("old", F.lit(float("inf"))),
                        F.coalesce("new", F.lit(float("inf"))),
                    ).alias("dist"),
                    "old",
                ),
                checkpoint_dir,
            )
            frontier = folded.filter(
                F.col("old").isNull() | (F.col("dist") < F.col("old"))
            ).select("node", "dist")
            dist = folded.drop("old")
            if frontier.limit(1).count() == 0:
                drained = True
                break  # no distance improved → exact fixpoint
        if not drained:
            # the frontier only provably empties one round AFTER the last
            # improvement, so a budget equal to the exact hop depth leaves
            # a complete-but-unproven table. Spend one relaxation JOIN
            # (no fold/checkpoint) to test it: zero improvements ⇔ the
            # table already is the fixpoint — max_iterations == hop depth
            # therefore succeeds, as documented.
            cand = e.join(frontier, e.a == frontier.node).select(
                F.col("b").alias("node"),
                (F.col("dist") + F.col("w")).alias("cand"),
            )
            improves = cand.join(dist, "node", "left_outer").filter(
                F.col("dist").isNull() | (F.col("cand") < F.col("dist"))
            )
            drained = improves.limit(1).count() == 0
    if not drained:
        # refuse loudly, like k_core: a distance table cut off mid-
        # relaxation under-reaches (and over-estimates) silently, and
        # the caller cannot tell it from the converged one. Relaxation
        # rounds are bounded by the shortest-path tree's hop depth —
        # raise max_iterations for deep graphs.
        raise QueryError(
            f"shortest_paths did not reach its fixpoint within"
            f" {max_iterations} rounds"
        )
    out = dist
    _release_iteration_garbage(out)
    return out


def cooccurrence_edges(
    df: DataFrame,
    group_col: str,
    item_col: str,
    max_group_size: int | None = 64,
) -> DataFrame:
    """Distinct undirected projection edges (a, b), a < b, between items
    sharing a group (parts per order, tokens per doc, ...). The classic
    bipartite→unimodal projection.

    ``max_group_size`` drops groups above the cap BEFORE the pair join —
    the same frequent-key guard as ngram_jaccard_pairs' DF cap: pair
    count is quadratic in group size, so one 10⁵-item group at corpus
    scale would emit 10¹⁰ pairs from a single key. Capped, the output is
    bounded by groups × cap² and the join stays shuffle-uniform. Pass
    None to disable (small curated data only).
    """
    pairs = df.select(F.col(group_col).alias("g"), F.col(item_col).alias("i")).distinct()
    if max_group_size is not None:
        small = (
            pairs.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_group_size)
            .select("g")
        )
        pairs = pairs.join(small, "g", "left_semi")
    a = pairs.select("g", F.col("i").alias("a"))
    b = pairs.select("g", F.col("i").alias("b"))
    return (
        a.join(b, "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst", degree_orient: bool = True
) -> DataFrame:
    """Global triangle count over an undirected simple graph →
    one row (n_nodes, n_edges, n_triangles).

    Edges are canonicalized/deduped, oriented into a DAG by a total node
    order, and triangles are counted with the two-join wedge plan: wedges
    are pairs of out-edges sharing a source, closed by a semi-join against
    the oriented edge set — each triangle counted exactly once because
    exactly one of its nodes precedes the other two.

    ``degree_orient=True`` (default) orders nodes by (degree, id) — the
    standard skew-safe orientation (Latapy 2008; Suri & Vassilvitskii
    WWW'11 "Counting Triangles and the Curse of the Last Reducer"): every
    oriented out-degree is then O(√m), so wedge volume is bounded by
    O(m^1.5) REGARDLESS of hub degrees. Under plain id ordering
    (``degree_orient=False``, kept for the scale probe) a hub of degree d
    whose id sorts low contributes C(d,2) wedges — quadratic in the hub.
    Receipt: tools/scale_probe_triangles.py (identical counts, wedge
    volume collapse on a planted hub).

    Cost: one degree aggregation + two broadcast-or-shuffle rank joins on
    top of the two wedge joins — the degree table is one row per node.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    e.persist()
    nodes = (
        e.select(F.col("a").alias("n")).unionByName(e.select(F.col("b").alias("n"))).distinct()
    )
    if degree_orient:
        deg = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        ranked = (
            e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("d", "da"), "a")
            .join(deg.withColumnRenamed("n", "b").withColumnRenamed("d", "db"), "b")
        )
        ra = F.struct(F.col("da").alias("d"), F.col("a").alias("n"))
        rb = F.struct(F.col("db").alias("d"), F.col("b").alias("n"))
        oriented = ranked.select(
            F.when(ra < rb, ra).otherwise(rb).alias("u"),
            F.when(ra < rb, rb).otherwise(ra).alias("v"),
        )
    else:
        oriented = e.select(
            F.struct(F.lit(0).alias("d"), F.col("a").alias("n")).alias("u"),
            F.struct(F.lit(0).alias("d"), F.col("b").alias("n")).alias("v"),
        )
    oriented = oriented.persist()
    wedges = (
        oriented.alias("e1")
        .join(oriented.alias("e2"), F.col("e1.u") == F.col("e2.u"))
        .filter(F.col("e1.v") < F.col("e2.v"))
        .select(F.col("e1.v").alias("u"), F.col("e2.v").alias("v"))
    )
    tris = wedges.join(oriented, ["u", "v"], "left_semi")
    out = (
        tris.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select("n_nodes", "n_edges", "n_triangles")
    )
    # Materialize the 1-row result eagerly so the edge cache can be
    # released now instead of leaking across calls (the pagerank
    # unpersist discipline).
    out = out.localCheckpoint()
    e.unpersist(blocking=False)
    oriented.unpersist(blocking=False)
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame | list[str],
    iterations: int = 6,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Personalized PageRank → (node, rank): the teleport mass returns to
    the SEED set instead of spreading uniformly, so ranks measure
    relatedness TO the seeds (the recommendation / similar-entities
    primitive). rank' = (1-d)·1[seed] + d·Σ in-contributions; ranks
    start at 1 on seeds, 0 elsewhere.

    Same loop discipline as :func:`pagerank` (one-shuffle window-built
    weighted edge list cached on the join key, per-iteration
    localCheckpoint, AQE off, cardinality-sized shuffles); only the
    teleport term differs. Nodes unreachable from the seeds keep rank 0
    and are dropped from the output."""
    from pyspark.sql import Window

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not isinstance(seeds, DataFrame):
        seeds = spark.createDataFrame([(s,) for s in seeds], ["node"])
    seed_df = seeds.select("node").distinct()
    n_edges = e.count()
    with _iteration_conf(spark, n_edges):
        e2 = e.withColumn(
            "w", F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy("src"))
        ).persist()
        nodes = (
            e2.select(F.col("src").alias("node"))
            .unionByName(e2.select(F.col("dst").alias("node")))
            .unionByName(seed_df)
            .distinct()
            .persist()
        )
        base = nodes.join(
            seed_df.withColumn("__s", F.lit(1.0)), "node", "left_outer"
        ).select("node", F.coalesce("__s", F.lit(0.0)).alias("seed"))
        base = _truncate(base, checkpoint_dir)
        ranks = base.select("node", F.col("seed").alias("rank"))
        for _ in range(iterations):
            contribs = (
                e2.join(ranks, e2.src == ranks.node)
                .select(
                    F.col("dst").alias("node"), (F.col("rank") * F.col("w")).alias("c")
                )
                .groupBy("node")
                .agg(F.sum("c").alias("csum"))
            )
            ranks = _truncate(
                base.join(contribs, "node", "left_outer").select(
                    "node",
                    (
                        F.lit(1.0 - damping) * F.col("seed")
                        + F.lit(damping) * F.coalesce("csum", F.lit(0.0))
                    ).alias("rank"),
                ),
                checkpoint_dir,
            )
    out = ranks.filter(F.col("rank") > 0)
    e2.unpersist(blocking=False)
    nodes.unpersist(blocking=False)
    _release_iteration_garbage(out)
    return out


def _scc_driver(
    pairs: list[tuple], max_iterations: int
) -> list[tuple] | None:
    """Driver-side twin of the semi-naive closure + mutual-reachability
    min-label below, for edge lists that fit the driver (r16 — the
    distributed loop costs ~3 scheduler jobs per round, which dominated
    the event-transition SCC query at 31 jobs for a ~10-node graph).

    Replicates the distributed semantics EXACTLY: the closure grows one
    edge-step per round, a round with an empty frontier converges, and
    exceeding ``max_iterations`` with a live frontier raises the same
    ValueError (so a round budget that under-covers the graph fails
    identically on both paths). Returns None when the closure outgrows
    ``_SCC_DRIVER_MAX_CLOSURE`` — the caller falls back to the
    distributed form, which spills."""
    clo = set(pairs)
    frontier = set(pairs)
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, []).append(b)
    it = 0
    converged = False
    while it < max_iterations:
        it += 1
        grown = set()
        for a, b in frontier:
            for c in adj.get(b, ()):
                if a != c:
                    grown.add((a, c))
        new_frontier = grown - clo
        if not new_frontier:
            converged = True
            break
        clo |= new_frontier
        if len(clo) > _SCC_DRIVER_MAX_CLOSURE:
            return None
        frontier = new_frontier
    if not converged and pairs:
        raise ValueError(
            f"transitive closure did not converge in {max_iterations} "
            "rounds — SCCs from a partial closure would be wrong; raise "
            "max_iterations (or use scc_forward_backward for long-path "
            "graphs whose closure is too large)"
        )
    nodes = {a for a, _ in pairs} | {b for _, b in pairs}
    best = {v: v for v in nodes}
    for a, b in clo:
        if (b, a) in clo and a < best[b]:
            best[b] = a
    return sorted(best.items())


_SCC_DRIVER_MAX_EDGES = 4096
_SCC_DRIVER_MAX_CLOSURE = 1_000_000


def strongly_connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    driver_max_edges: int = _SCC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """Strongly connected components over DIRECTED edges →
    DataFrame(node, scc): scc(v) is the lexicographically smallest node
    mutually reachable with v (v itself when v sits on no cycle) —
    deterministic with no id-assignment step, like
    :func:`connected_components`.

    Method: semi-naive transitive closure (frontier-only joins,
    checkpoint truncation — the plans/paths discipline), then ONE
    mutual-reachability self-join: scc(v) = min({v} ∪ {u : u→v ∧ v→u}).
    The closure is the O(V²)-worst-case object itself, so this is for
    graphs whose closure fits — entity-type graphs, state machines,
    schema graphs (the registered query's event-transition graph) — the
    same documented contract as the property-path closure; dense
    million-node webgraphs want :func:`scc_forward_backward` (r9) —
    same deterministic min-node labels, O(V) state, no closure.

    ``max_iterations`` bounds the closure rounds (≥ longest shortest
    path; the exit test is exact — an empty frontier stops early). If
    the bound is hit with the frontier still non-empty the closure is
    INCOMPLETE and components computed from it would be silently wrong,
    so this raises ValueError instead of returning — the same
    non-convergence contract as :func:`dag_longest_path_layers`."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    if driver_max_edges > 0:
        # bounded-graph fast path (r16): the closure form's documented
        # contract is closure-friendly graphs (entity types, state
        # machines, schema graphs) — when the DEDUPED edge list fits the
        # driver bound, ONE limit-collect job replaces the checkpoint,
        # the count, and ~3 scheduler jobs per closure round. Labels,
        # round semantics and the non-convergence ValueError are the
        # distributed form's, bit for bit (pinned by
        # test_scc_driver_path_matches_distributed).
        sample = e.limit(driver_max_edges + 1).collect()
        if len(sample) <= driver_max_edges:
            labeled = _scc_driver(
                [(r["a"], r["b"]) for r in sample], max_iterations
            )
            if labeled is not None:
                import pyspark.sql.types as T

                dt = e.schema["a"].dataType
                schema = T.StructType(
                    [T.StructField("node", dt), T.StructField("scc", dt)]
                )
                return edges.sparkSession.createDataFrame(labeled, schema)
        # over the bound (or the closure outgrew the driver): fall
        # through to the distributed loop below
    e = _truncate(e, checkpoint_dir)
    n_edges = e.count()
    nodes = _truncate(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    closure = e
    frontier = e
    it = 0
    converged = False
    with _iteration_conf(edges.sparkSession, n_edges):
        while it < max_iterations:
            it += 1
            # fresh column names on both sides: an alias()-style self-join
            # here trips Spark's attribute remapping inside the subsequent
            # localCheckpoint (NoSuchElementException on the join key)
            step = e.select(
                F.col("a").alias("__ea"), F.col("b").alias("__eb")
            )
            grown = (
                frontier.select(
                    F.col("a").alias("__fa"), F.col("b").alias("__fb")
                )
                .join(step, F.col("__fb") == F.col("__ea"))
                .select(F.col("__fa").alias("a"), F.col("__eb").alias("b"))
                .where(F.col("a") != F.col("b"))
                .distinct()
            )
            new_frontier = _truncate(
                grown.join(closure, ["a", "b"], "left_anti"), checkpoint_dir
            )
            if new_frontier.limit(1).count() == 0:
                converged = True
                break
            closure = _truncate(
                closure.unionByName(new_frontier).distinct(), checkpoint_dir
            )
            frontier = new_frontier
    if not converged and n_edges > 0:
        raise ValueError(
            f"transitive closure did not converge in {max_iterations} "
            "rounds — SCCs from a partial closure would be wrong; raise "
            "max_iterations (or use scc_forward_backward for long-path "
            "graphs whose closure is too large)"
        )
    rev = closure.select(
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    mutual = closure.join(rev, ["a", "b"], "left_semi")  # a→b AND b→a
    scc = (
        nodes.join(
            mutual.select(F.col("b").alias("node"), F.col("a").alias("u")),
            "node",
            "left_outer",
        )
        .groupBy("node")
        .agg(
            F.least(
                F.col("node"), F.coalesce(F.min("u"), F.col("node"))
            ).alias("scc")
        )
    )
    _release_iteration_garbage(scc)
    return scc


def scc_forward_backward(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    max_bfs_iterations: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Strongly connected components via iterative FORWARD-BACKWARD
    coloring (Fleischer/Hendrickson/Pinar 2000, with the standard
    iterated-Trim acceleration) → DataFrame(node, scc) with the SAME
    deterministic labeling as :func:`strongly_connected_components`:
    scc(v) is the lexicographically smallest node mutually reachable
    with v.

    This is the webgraph-scale variant the closure form's docstring
    names: state is O(V) rows (node, color) + O(E) within-color edges
    per round — the transitive closure (O(V²) pairs for a big SCC) is
    NEVER materialized. Per outer round: iterated trim (nodes with no
    within-color in- or out-edges are singleton SCCs — cascades until
    fixpoint, which alone resolves any DAG), then per remaining color a
    pivot (the color's min node) BFSes forward and backward WITHIN the
    color; F∩B is the pivot's whole SCC (labeled pivot = the SCC's min,
    since pivot is the color's min), and survivors split 3-way
    (F∖B / B∖F / neither — SCCs never span the split) with each
    subgroup's min node as its new color. All colors advance in the
    SAME distributed pass — the recursion of the paper becomes data
    parallelism.

    Cost model (why this beats the closure exactly where the closure
    dies): rounds ∝ color-tree depth (1 for a single giant SCC, ~log V
    expected on webgraphs), BFS iterations ∝ within-color diameter,
    each iteration one frontier join over O(E) rows — linear in
    edges × iterations (probe receipt: tools/scale_probe_scc_fwbw.py,
    a doubling-cycle giant SCC whose closure would be quadratic).
    Prefer the closure form for small closure-friendly graphs (fewer
    jobs); prefer this for large or big-SCC graphs.

    Raises ValueError if ``max_rounds`` or ``max_bfs_iterations`` is
    hit before every node is resolved — never returns partial output
    (same contract as the closure form and dag_longest_path_layers)."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e = _truncate(e, checkpoint_dir)
    n_edges = e.count()
    nodes = _truncate(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    done = nodes.select("node", F.col("node").alias("scc")).where(F.lit(False))
    if n_edges == 0:
        return done
    # initial color = the global min node, via a broadcast 1-row agg
    # (NOT an unpartitioned window, which would single-partition V rows)
    mn = nodes.agg(F.min("node").alias("__c"))
    state = _truncate(
        nodes.crossJoin(F.broadcast(mn)).select(
            "node", F.col("__c").alias("color")
        ),
        checkpoint_dir,
    )

    def _within_color(st: DataFrame) -> DataFrame:
        # edges whose BOTH endpoints are live and share a color
        return (
            e.join(st.select(F.col("node").alias("a"), "color"), "a")
            .join(
                st.select(F.col("node").alias("b"), F.col("color").alias("__c2")),
                "b",
            )
            .where(F.col("color") == F.col("__c2"))
            .select("a", "b", "color")
        )

    def _bfs(pv: DataFrame, ec: DataFrame, forward: bool) -> DataFrame:
        """All-pivots reachability within color; ec = within-color edges."""
        step = ec if forward else ec.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "color"
        )
        reached = pv
        frontier = pv
        for _ in range(max_bfs_iterations):
            grown = (
                frontier.withColumnRenamed("node", "a")
                .join(step, ["color", "a"])
                .select("color", F.col("b").alias("node"))
                .distinct()
            )
            nxt = _truncate(
                grown.join(reached, ["color", "node"], "left_anti"),
                checkpoint_dir,
            )
            if nxt.limit(1).count() == 0:
                return reached
            reached = _truncate(
                reached.unionByName(nxt).distinct(), checkpoint_dir
            )
            frontier = nxt
        raise ValueError(
            f"FW-BW BFS did not converge in {max_bfs_iterations} "
            "iterations — raise max_bfs_iterations (bound must cover the "
            "largest within-color diameter)"
        )

    with _iteration_conf(edges.sparkSession, n_edges):
        for _ in range(max_rounds):
            # --- iterated trim: peel no-in / no-out nodes until fixpoint
            for _t in range(max_bfs_iterations):
                ec = _within_color(state)
                keep = (
                    ec.select(F.col("a").alias("node"))
                    .intersect(ec.select(F.col("b").alias("node")))
                )
                trimmed = state.join(keep, "node", "left_anti")
                if trimmed.limit(1).count() == 0:
                    break
                done = _truncate(
                    done.unionByName(
                        trimmed.select("node", F.col("node").alias("scc"))
                    ),
                    checkpoint_dir,
                )
                state = _truncate(
                    state.join(keep, "node", "left_semi"), checkpoint_dir
                )
            else:
                raise ValueError(
                    f"trim did not reach fixpoint in {max_bfs_iterations} "
                    "iterations"
                )
            if state.limit(1).count() == 0:
                _release_iteration_garbage(done)
                return done
            # --- pivot per color, BFS both directions within color
            ec = _truncate(_within_color(state), checkpoint_dir)
            pivots = state.groupBy("color").agg(F.min("node").alias("node"))
            fw = _bfs(pivots, ec, forward=True)
            bw = _bfs(pivots, ec, forward=False)
            flags = (
                state.join(
                    fw.withColumn("__f", F.lit(True)), ["color", "node"], "left"
                )
                .join(
                    bw.withColumn("__b", F.lit(True)), ["color", "node"], "left"
                )
                .select(
                    "node",
                    "color",
                    F.coalesce("__f", F.lit(False)).alias("__f"),
                    F.coalesce("__b", F.lit(False)).alias("__b"),
                )
            )
            found = flags.where(F.col("__f") & F.col("__b")).join(
                pivots.select("color", F.col("node").alias("scc")), "color"
            )
            done = _truncate(
                done.unionByName(found.select("node", "scc")), checkpoint_dir
            )
            remaining = flags.where(~(F.col("__f") & F.col("__b")))
            state = _truncate(
                remaining.select(
                    "node",
                    F.min("node")
                    .over(Window.partitionBy("color", "__f", "__b"))
                    .alias("color"),
                ),
                checkpoint_dir,
            )
            if state.limit(1).count() == 0:
                _release_iteration_garbage(done)
                return done
    raise ValueError(
        f"FW-BW did not resolve every node in {max_rounds} rounds — "
        "raise max_rounds (bound must cover the color-tree depth)"
    )


def dag_longest_path_layers(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Longest-path layering of a DAG → DataFrame(node, layer): sources
    sit at layer 0 and every node's layer is 1 + the max layer of its
    predecessors — the schedule depth dependency resolution assigns
    (build systems, pipeline stages, column-lineage graphs).

    Bellman-Ford-style relaxation: layer(v) ← max(layer(v),
    1 + max over preds); converges in ≤ DAG-depth rounds with an exact
    no-change exit. A CYCLE never converges — if the bound is hit with
    changes still flowing, this raises ValueError rather than returning
    a partial layering (run strongly_connected_components first to find
    the cycles). One label-table shuffle per round, same iteration
    discipline as pagerank/CC."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    e = _truncate(e, checkpoint_dir)
    n_edges = e.count()
    nodes = _truncate(
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct(),
        checkpoint_dir,
    )
    layer = nodes.withColumn("layer", F.lit(0).cast("bigint"))
    with _iteration_conf(edges.sparkSession, n_edges):
        for _ in range(max_iterations):
            pred_max = (
                e.join(layer, e.a == layer.node)
                .select(F.col("b").alias("node"), (F.col("layer") + 1).alias("pl"))
                .groupBy("node")
                .agg(F.max("pl").alias("pmax"))
            )
            new_layer = _truncate(
                layer.join(pred_max, "node", "left_outer").select(
                    "node",
                    F.greatest(
                        F.col("layer"), F.coalesce("pmax", F.col("layer"))
                    ).alias("layer"),
                    F.col("layer").alias("old_layer"),
                ),
                checkpoint_dir,
            )
            changed = (
                new_layer.filter(F.col("layer") != F.col("old_layer"))
                .limit(1)
                .count()
            )
            layer = new_layer.drop("old_layer")
            if changed == 0:
                _release_iteration_garbage(layer)
                return layer
    raise ValueError(
        f"no fixpoint after {max_iterations} rounds — the graph has a "
        "cycle (or max_iterations is below the DAG depth)"
    )
