"""Connected components over candidate-pair graphs [EXT].

Driver-mandated LLM-pipeline extension (no reference counterpart).
Near-dup PAIRS (minhash/simhash/embedding joins) are not an actionable
dedup decision: similarity is not transitive, so a keep/drop choice
needs the transitive closure — duplicate CLUSTERS. This module turns an
edge list into components with iterative min-label propagation, the
same driver-coordinated iteration shape as ``train_kmeans`` (and
GraphX/GraphFrames connectedComponents):

- per-iteration state is the (node, label) relation — O(V), partitioned
  by node, never collected to the driver;
- one iteration = one equi-join (labels onto symmetrized edges) + one
  min-aggregate + one least() merge: two key shuffles, no row
  explosion beyond 2|E|;
- the driver sees ONE scalar per iteration to decide convergence:
  for integral ids the exact sum of labels (labels only decrease, so
  the sum is stationary exactly at the fixpoint — no join at all);
  for other id types an exact changed-label probe (one node-key join,
  limit-1 short-circuited);
- every iteration also POINTER-JUMPS (label(n) := label(label(n))),
  so chains collapse in O(log diameter) rounds, not O(diameter);
- ``localCheckpoint`` after each round truncates lineage — without it
  the nested logical plan makes analysis time grow superlinearly (the
  standard trap of iterative DataFrame algorithms; GraphFrames
  checkpoints for the same reason). Each round's checkpoint is released
  once the next round's exists, and the edge and node checkpoints when
  the call ends, so only the returned frame's own checkpoint stays.

At 100 TB scale the plan per iteration is a pair of hash shuffles on
the node key; AQE handles the skew of a super-cluster node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flyq_spark.operators.util import release_checkpoint


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Components of the undirected graph given by ``pairs``.

    Returns (node, component) for every node that appears in an edge,
    where ``component`` is the smallest node id reachable from it —
    deterministic, engine-independent labeling. Runs min-label
    propagation to the exact fixpoint; raises if ``max_iter`` rounds
    aren't enough (results would be wrong silently otherwise).
    """
    from pyspark.sql import types as T

    fwd = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # localCheckpoint (eager) both materializes and TRUNCATES LINEAGE —
    # without it each iteration's logical plan nests the previous one and
    # analysis time grows superlinearly (the standard trap of iterative
    # DataFrame algorithms; GraphFrames checkpoints for the same reason).
    edges = edges.distinct().localCheckpoint()
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    # Convergence probe, two regimes by id TYPE:
    # - integral ids: labels only ever DECREASE, so sum(label) (exact
    #   decimal arithmetic) strictly decreases until the fixpoint — one
    #   cheap aggregate, no join. The decimal cast is EXACT only for
    #   integral types; a string id would crash the cast under ANSI (or
    #   silently yield NULL==NULL "convergence" with ANSI off), and
    #   fractional floats would alias under the 0-scale decimal.
    # - any other id type: count labels that CHANGED this round via an
    #   equi-join of consecutive label frames (limit-1 short-circuit) —
    #   exact for every type, one extra node-key join per round.
    integral = isinstance(
        pairs.schema[src_col].dataType,
        (T.LongType, T.IntegerType, T.ShortType, T.ByteType),
    )

    def _label_sum(frame):
        return frame.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).collect()[0][0]

    prev_sum = _label_sum(labels) if integral else None
    try:
        for _ in range(max_iter):
            prev_labels = labels
            neigh_min = (
                edges.join(labels, edges.v == labels.node)
                .groupBy("u")
                .agg(F.min("label").alias("_nmin"))
            )
            prop = labels.join(neigh_min, labels.node == neigh_min.u, "left_outer").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nmin"), F.col("label"))
                ).alias("label"),
            )
            # pointer jump: also resolve each label through ITS label
            # (label(n) := label(label(n))), collapsing chains in
            # O(log diameter) rounds instead of O(diameter).
            m = prop.select(F.col("node").alias("_mn"), F.col("label").alias("_ml"))
            labels = (
                prop.join(m, prop.label == m._mn, "left_outer")
                .select(
                    "node",
                    F.least(
                        F.col("label"), F.coalesce(F.col("_ml"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            if integral:
                new_sum = _label_sum(labels)
                converged = new_sum == prev_sum
                prev_sum = new_sum
            else:
                # exact for every id type: any node whose label differs from
                # last round means not converged (limit-1 short-circuits)
                converged = (
                    labels.alias("a")
                    .join(prev_labels.alias("b"), "node")
                    .where(F.col("a.label") != F.col("b.label"))
                    .limit(1)
                    .count()
                    == 0
                )
            release_checkpoint(prev_labels)
            if converged:
                return labels.select("node", F.col("label").alias("component"))
        release_checkpoint(labels)
    finally:
        release_checkpoint(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations; "
        "raise max_iter (diameter exceeds it)"
    )


def dedup_components_keep_min(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep/drop decision per clustered node: the smallest id in each
    duplicate cluster is the canonical survivor. Returns (node,
    component, keep) for every node appearing in a pair; nodes absent
    from ``pairs`` are implicitly kept (no row)."""
    comp = connected_components(pairs, src_col, dst_col)
    return comp.select(
        "node", "component", (F.col("node") == F.col("component")).alias("keep")
    )


def dedup_components_keep_best(
    pairs: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Survivor selection by QUALITY across near-dup clusters — what a
    production pipeline actually keeps (the best document of each
    duplicate group, not the smallest id): survivor = argmax quality,
    ties broken toward the smallest id so the choice is deterministic.

    ``quality`` is any (id, score) relation — Gopher signal counts, a
    classifier score, document length. The join attaches scores only to
    CLUSTERED nodes (|pairs|-bounded, not corpus-bounded), and the
    argmax is one per-component window over cluster members — cluster
    sizes are near-dup group sizes, never corpus-scale partitions.

    Returns (node, component, keep, survivor) for every clustered node;
    nodes absent from ``pairs`` are implicitly kept (no row)."""
    comp = connected_components(pairs, src_col, dst_col)
    scored = comp.join(
        quality.select(
            F.col(id_col).alias("node"), F.col(quality_col).alias("_q")
        ),
        "node",
        "left",
    )
    w = Window.partitionBy("component").orderBy(
        F.col("_q").desc_nulls_last(), F.col("node").asc()
    )
    return (
        scored.withColumn("survivor", F.first("node").over(w))
        .select(
            "node",
            "component",
            (F.col("node") == F.col("survivor")).alias("keep"),
            "survivor",
        )
    )


def pagerank(
    pairs: DataFrame,
    damping: float = 0.85,
    iters: int = 10,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    directed: bool = False,
) -> DataFrame:
    """PageRank by fixed-iteration power method over the edge list —
    the centrality ranking LLM pipelines use for source/domain quality
    weighting (Common Crawl host ranks seed crawl prioritization and
    quality priors; within a near-dup cluster graph it surfaces the
    "canonical" document other copies orbit).

    Semantics (the standard formulation, uniform teleport): rank is a
    probability vector over the n graph nodes, initialized 1/n;
    each iteration sends rank(u)/outdeg(u) along every edge, damps by
    ``damping``, and redistributes dangling-node mass (outdeg 0 —
    possible only when ``directed``) uniformly. Fixed ``iters``
    rounds, so the result is a pure function of the edge set.

    Plan per iteration — O(V + E) rows, two key shuffles, nothing
    driver-side but one dangling-mass scalar:
    - contributions = ranks ⋈ edges on the src key (AQE skew-split for
      hub nodes) → groupBy(dst) with map-side partial sums;
    - left join back onto the node set (nodes nobody links to keep the
      teleport term);
    - ``localCheckpoint`` per round truncates lineage (same trap as
      ``connected_components``).
    Out-degrees are computed ONCE and reused — they are static.

    Float output → rows-only in the gate; pinned against a pure-Python
    reference in pytest (per-node sums are short; see
    tests/test_graph.py). Output: (node, rank) with sum(rank) == 1.
    """
    fwd = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    if directed:
        edges = fwd.distinct().localCheckpoint()
    else:
        edges = (
            fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:
        release_checkpoint(edges)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    outdeg = edges.groupBy("u").agg(F.count("*").alias("_deg")).localCheckpoint()
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("rank"))
    teleport = (1.0 - damping) / n
    for it in range(iters):
        prev_ranks = ranks
        with_deg = ranks.join(outdeg, ranks.node == outdeg.u, "left_outer")
        if directed:
            # dangling mass: rank sitting on nodes with no out-edges is
            # redistributed uniformly (one scalar to the driver per round).
            dangling = with_deg.where(F.col("_deg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0))
            ).collect()[0][0]
        else:
            # symmetrized edges give every node an out-edge — dangling
            # mass is structurally zero, so skip the per-round driver
            # aggregate entirely (halves round-trips for the common case)
            dangling = 0.0
        contrib = (
            with_deg.where(F.col("_deg").isNotNull())
            .select("node", (F.col("rank") / F.col("_deg")).alias("_share"))
            .join(edges, F.col("node") == edges.u)
            .groupBy("v")
            .agg(F.sum("_share").alias("_in"))
        )
        base = teleport + damping * dangling / n
        ranks = (
            nodes.join(contrib, nodes.node == contrib.v, "left_outer")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        if it:  # round 0 read the uniform start, which is no checkpoint
            release_checkpoint(prev_ranks)
    release_checkpoint(edges)
    release_checkpoint(outdeg)
    if iters:  # else the uniform start, read from nodes, is returned
        release_checkpoint(nodes)
    return ranks


def bfs_levels(
    pairs: DataFrame,
    sources: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    node_col: str = "node",
    max_iter: int = 25,
) -> DataFrame:
    """Single-source-set shortest HOP distances over the undirected
    graph of ``pairs`` (multi-source BFS — the "how far is every record
    from a seed set" primitive: contamination blast radius from known-bad
    documents, curation distance from a gold set). Returns
    (node, dist) for every node REACHABLE from ``sources``; unreachable
    nodes are absent (their distance is not 0 or ∞-as-a-number —
    emitting a sentinel would poison downstream aggregates silently).

    Frontier iteration with min-distance dedup: round k expands the
    frontier one hop, keeps NEW nodes only (left-anti vs. settled), so
    each edge is traversed at most once per endpoint settlement —
    O(diameter) rounds of equi-joins, lineage truncated per round
    (localCheckpoint, same discipline as connected_components). The
    fixpoint is exact: the loop stops the first round the frontier
    empties, and raises past ``max_iter`` rather than returning a
    silently-truncated distance map."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    fwd = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    settled = (
        sources.select(F.col(node_col).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    frontier = settled
    try:
        for it in range(1, max_iter + 1):
            nxt = (
                frontier.join(edges, frontier["node"] == edges["u"])
                .select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
                .groupBy("node")
                .agg(F.min("dist").alias("dist"))
                .join(settled.select("node"), "node", "left_anti")
                .localCheckpoint()
            )
            if frontier is not settled:
                release_checkpoint(frontier)
            if nxt.isEmpty():
                release_checkpoint(nxt)
                return settled
            prev_settled = settled
            settled = settled.unionByName(nxt).localCheckpoint()
            release_checkpoint(prev_settled)
            frontier = nxt
        release_checkpoint(frontier)
        release_checkpoint(settled)
    finally:
        release_checkpoint(edges)
    raise RuntimeError(
        f"bfs_levels did not converge in {max_iter} rounds — graph "
        "diameter exceeds max_iter; raise it"
    )


def label_propagation(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    n_iter: int = 10,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (LPA,
    Raghavan et al. 2007) over the undirected graph given by
    ``pairs`` — the finer-than-components structure the dedup graph
    needs when giant connected components (hub documents chaining
    unrelated clusters) must not collapse into one dedup decision.

    Each round, every node adopts the most frequent label among its
    neighbors, ties to the SMALLEST label; updates are synchronous
    (all nodes from the same previous labeling), so the result is a
    pure function of the edge set — no asynchronous visit order, no
    RNG. A fixed ``n_iter`` rounds bound the cost AND the known
    oscillation modes of synchronous LPA (bipartite flip-flop): the
    output is whatever labeling round n produces, deterministic by
    construction. LPA is a heuristic with no exact fixpoint to
    certify, but the fixed-round synchronous schedule IS
    oracle-replayable — the gate's SQL unrolls the same n rounds
    verbatim (see q_lpa_communities), and the pytest additionally
    pins an independent Python model.

    Scale shape per round: one (neighbor-label) count aggregation +
    one per-node argmax — two key shuffles over the edge list;
    lineage truncated per round via localCheckpoint exactly like
    connected_components. Output: (node, community) with community =
    the final label (a node id).
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1: {n_iter}")
    fwd = pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    edges = (
        fwd.union(fwd.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("community"))
        .localCheckpoint()
    )
    for _ in range(n_iter):
        neigh = edges.join(
            labels.withColumnRenamed("node", "v"), on="v"
        ).select(F.col("u").alias("node"), "community")
        counted = neigh.groupBy("node", "community").agg(
            F.count(F.lit(1)).alias("_c")
        )
        # argmax by (count DESC, community ASC): min over the struct
        # (-count, community) — ties resolve to the smallest label
        best = (
            counted.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("_c")).alias("_nc"), F.col("community"))
                ).getField("community").alias("community")
            )
        )
        prev_labels, labels = labels, best.localCheckpoint()
        release_checkpoint(prev_labels)
    release_checkpoint(edges)
    return labels
