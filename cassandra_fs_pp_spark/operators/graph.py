"""Iterative graph operators (connected components).

The reference has no graph surface; this fills the engine's "iterative
algorithm" slot — the primitive behind transitive duplicate clustering
(``operators/textdedup.py`` ``lsh_cluster_wide`` is the single-round
approximation of exactly this) and entity resolution at corpus scale.

Spark-first shape: min-label propagation (the Pregel/GraphX CC recipe)
as a driver-side loop of DataFrame joins. Each round is one shuffle on
the edge key; the loop runs O(max component diameter) rounds — for
near-dup graphs that is single digits. ``localCheckpoint`` truncates
lineage every round so the plan does not grow with iterations (at 1000
executors an uncheckpointed 20-round lineage would replan and re-shuffle
everything each action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Exact connected components of the undirected graph given by edge
    rows. Returns ``(node, component)`` where ``component`` is the
    minimum node id in the node's component — deterministic, so results
    are reproducible across runs and partitionings.

    Nodes are those appearing in at least one edge (an isolated node has
    no edge row to announce it). Iterates to a true fixpoint (count of
    label changes == 0), unlike the one-round bucket-min used by
    ``lsh_cluster_wide`` — pairs A~B, B~C with no shared bucket still merge.

    Each round couples the neighbor-min update with POINTER JUMPING
    (``component <- component(component)``, a self-join on the label
    table): plain propagation needs O(diameter) rounds — pathological on
    chain-shaped components — while the jump halves pointer depth each
    round, giving O(log diameter) convergence (cf. hash-to-min,
    Rastogi et al. 2012).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # eager=False (r17): each round's `changed` count is a FULL-partition
    # action over `updated`, so the checkpoint's final stage runs inside
    # the job that was running anyway — same lineage truncation, one
    # fewer job per round. Under AQE the call itself still runs every
    # shuffle-map stage of the plan it checkpoints (the `distinct` here is
    # one job at the call); only the final stage is deferred. (k_core/bfs
    # pace the same way: their frontier emptiness tests are full counts
    # over a lazy checkpoint.)
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=False)
    )
    sym = sym.localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("component").alias("nbr_component"))
        )
        propagated = labels.join(
            nbr_min, labels["node"] == F.col("node2"), "left"
        ).select(
            "node",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
            F.col("component").alias("old_component"),
        )
        # pointer jump: follow the label's own label (labels are always
        # real node ids, so the self-join hits; left join guards anyway)
        lab2 = propagated.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        updated = (
            propagated.join(
                lab2, propagated["component"] == F.col("jnode"), "left"
            )
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("jcomp"), F.col("component")),
                ).alias("new_component"),
                "old_component",
            )
            .localCheckpoint(eager=False)
        )
        changed = updated.filter(
            F.col("new_component") < F.col("old_component")
        ).count()
        labels = updated.select(
            "node", F.col("new_component").alias("component")
        )
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — raise max_iter; "
            "returning partial labels would silently split components"
        )
    return labels


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 8,
    scale: int = 10**12,
    damping_num: int = 17,
    damping_den: int = 20,
) -> DataFrame:
    """Directed PageRank by fixed-iteration power method, in EXACT
    fixed-point integer arithmetic.

    Ranks are scaled to ``scale`` (1e12) and every step is integer-only:
    each node ships ``rank_fp div outdeg`` along its out-edges and the
    new rank is ``base + (17 * sum(contribs)) div 20`` with
    ``base = (3 * scale) div (20 * N)``, i.e. ``(1-d)/N + d * sum`` at
    d = 0.85. Nodes with no in-edges settle at ``base``; dangling-node
    mass is not redistributed (the standard Spark-example semantics).
    Integer sums are order-insensitive and integer division is identical
    in every engine, so a fixed-iteration SQL replay reproduces the
    result BIT-FOR-BIT — a float power iteration's
    aggregation-order-dependent sums have no practical oracle. The
    per-step truncation deliberately discards < outdeg ulps of
    1e-12-scale mass per node (bounded, deterministic).

    Rounds are DataFrame joins on the edge key — one shuffle each, and
    the edge table's partitioning is reused every round. ``localCheckpoint``
    per round truncates lineage so the physical plan stays O(1)-deep
    regardless of ``iterations`` (same discipline as
    :func:`connected_components`).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).distinct()
    # eager=False (r17): the final stage of `nodes` runs in the n_total
    # count right below; those of `e_deg` / per-round `ranks` run inside
    # the first job that consumes them. Under AQE each call still runs the
    # shuffle-map stages of the plan it checkpoints (each round's join and
    # groupBy are jobs at build time); only the final stage is deferred.
    # The iteration count is FIXED (no convergence action), so the loop
    # adds no job of its own — lineage is still truncated per round and
    # the plan stays O(1)-deep.
    nodes = (
        e.select(F.col("s").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_total = nodes.count()
    if n_total == 0:
        return nodes.withColumn("rank_fp", F.lit(0).cast("long"))
    outdeg = e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    e_deg = e.join(outdeg, "s").localCheckpoint(eager=False)
    base = (scale * (damping_den - damping_num)) // (damping_den * n_total)
    ranks = nodes.withColumn(
        "rank_fp", F.lit(scale // n_total).cast("long")
    ).localCheckpoint(eager=False)
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg["s"] == ranks["node"])
            .select(
                F.col("t").alias("node"),
                F.expr("rank_fp div outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_num} * coalesce(contrib, 0L))"
                        f" div {damping_den}"
                    )
                ).cast("long").alias("rank_fp"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle census of the undirected simple graph: one row
    ``(n_nodes, n_edges, n_wedges, n_triangles)``. All-integer — exact
    and engine-portable.

    Spark-first shape (the MapReduce triangle recipe of Suri & Vassilvitskii
    2011): orient every edge from the lower-(degree, id) endpoint to the
    higher one, join wedges ``u->v->w`` against oriented edges ``u->w``.
    Degree orientation bounds every node's out-degree by O(sqrt(m)) on any
    graph, so the wedge join materializes O(m^1.5) rows worst-case instead
    of sum(deg^2) — the difference between a star-node blowing up the plan
    and not. Count is identical under any orientation; degree ordering is
    purely the cost bound (an id orientation gives the same number, which
    is what the SQL oracle uses).

    The other three counts come from ONE aggregate over the degree table,
    cross-joined with the triangle count: ``n_nodes`` is its row count,
    ``n_edges`` half the degree sum (each edge adds 2) and ``n_wedges``
    the sum of ``d * (d - 1) / 2``.
    """
    # und / deg / oriented are each referenced several times below; without
    # checkpoints every reference re-expands the full upstream lineage
    # (including whatever self-join built the edge list) — observed as a
    # 40-scan, 42-exchange plan on the co-purchase graph. localCheckpoint
    # collapses each to a single materialization, exactly as in k_core /
    # connected_components.
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .union(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .localCheckpoint(eager=False)
    )
    # Orient a->b iff (deg(a), a) < (deg(b), b).
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select("e.u", "e.v")
        .localCheckpoint(eager=False)
    )
    wedges = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("u"), F.col("e1.v").alias("v"), F.col("e2.v").alias("w")
    )
    closed = wedges.join(
        oriented.select(F.col("u").alias("u"), F.col("v").alias("w")),
        on=["u", "w"],
    )
    tri = closed.agg(F.count(F.lit(1)).alias("n_triangles"))
    summary = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # each undirected edge adds 2 to the degree sum; 0 on no edges
        F.coalesce(F.expr("sum(d) div 2"), F.lit(0).cast("long")).alias("n_edges"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_wedges"),
    ).crossJoin(tri)
    return summary.select("n_nodes", "n_edges", "n_wedges", "n_triangles")


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 100,
) -> DataFrame:
    """Exact k-core of the undirected simple graph: the maximal subgraph
    in which every node has degree >= k (unique, so order of peeling
    does not matter — deterministic at any parallelism).  Returns
    ``(node, core_degree)`` for surviving nodes, ``core_degree`` = the
    node's degree WITHIN the core.

    Distributed peeling: each round computes degrees (one shuffle on the
    node key) and anti-joins the below-k nodes out of the edge set; the
    weak set is typically tiny after the first rounds, so AQE plans the
    anti joins as broadcasts (unhinted: a huge first-round weak set must
    stay a shuffle join).  Rounds = peeling depth (degeneracy ladder), with
    ``localCheckpoint`` truncating lineage per round exactly like
    :func:`connected_components`.  Peeling depth is O(n) only on
    adversarial chains; real similarity/co-occurrence graphs peel in a
    handful of rounds.
    """
    # eager=False (r17): the per-round `weak` pacing count below is a
    # full aggregate over `sym`, so the lazily-checkpointed edge set's
    # final stage runs inside its job — one fewer job per round. Under AQE
    # the call itself still runs the shuffle-map stages of the plan it
    # checkpoints (the `distinct`); only the final stage is deferred.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    converged = False
    for _ in range(max_iter):
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        weak = (
            deg.filter(F.col("deg") < k)
            .select(F.col("a").alias("w"))
            # lazy + FULL count() pacing (r17): the count below touches
            # every partition, so it materializes the checkpoint inside
            # the pacing job itself — one job per round where the old
            # eager-checkpoint + limit(1) test paid two. (A limit(1)
            # test over a LAZY checkpoint would half-materialize it.)
            .localCheckpoint(eager=False)
        )
        if weak.count() == 0:
            converged = True
            break
        sym = (
            sym.join(weak, sym["a"] == weak["w"], "left_anti")
            .join(weak, sym["b"] == weak["w"], "left_anti")
            .localCheckpoint(eager=False)
        )
    if not converged:
        # A partially-peeled graph is a WRONG k-core (nodes below k may
        # remain); chain-like graphs can need peel depth > max_iter.
        raise RuntimeError(
            f"k_core did not converge within max_iter={max_iter} rounds; "
            "raise max_iter (peel depth equals the graph's degeneracy ladder)"
        )
    return (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )


def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_hops: int = 8,
) -> DataFrame:
    """Multi-source breadth-first search: shortest hop distance from ANY
    source node, up to ``max_hops``.  Returns ``(node, dist)`` — unique
    and integer-valued at any parallelism, so fully hash-oracle-able
    (DuckDB recursive CTE with UNION-dedup recursion).

    Frontier expansion, the Pregel shape: each round joins the current
    frontier to the symmetric edge list (one shuffle on the node key),
    anti-joins already-visited nodes out, and folds the survivors into
    the visited set at dist = round.  Rounds = min(max_hops, graph
    diameter); ``localCheckpoint`` truncates lineage per round exactly
    like :func:`connected_components`.  At 100 TB the frontier is the
    only growing shuffle side and is bounded by the reachable set.
    """
    # eager=False (r17): the final stages of `sym` and the per-round
    # `visited` union run inside the round's pacing job (a full
    # join+anti-join over both) instead of as jobs of their own; `nxt` is
    # lazy too, with the emptiness test switched from limit(1) to a FULL
    # count() so the pacing job itself finishes the checkpoint (limit(1)
    # over a lazy checkpoint would half-materialize it). Under AQE each
    # call still runs the shuffle-map stages of the plan it checkpoints
    # (a `distinct`, a join); only the final stage is deferred.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    visited = (
        sources.select(F.col(node).alias("n"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    frontier = visited.select("n")
    for hop in range(1, max_hops + 1):
        nxt = (
            frontier.join(sym, frontier["n"] == sym["a"])
            .select(F.col("b").alias("n"))
            .distinct()
            .join(visited.select("n").alias("v"), "n", "left_anti")
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(hop).cast("long"))
        ).localCheckpoint(eager=False)
        frontier = nxt
    return visited.select(F.col("n").alias("node"), "dist")
