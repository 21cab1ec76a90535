"""Generic bounded-iteration operator (SURVEY §2.9 X8 — DataStream iterate).

Flink's ``DataStream.iterate()`` feeds an operator's output back into
its input until a condition drains the feedback edge [Flink docs:
"Iterations"]. Spark's DAG cannot express a cyclic dataflow, but the
construct Flink programs actually build with it — "apply a step until a
fixpoint / round bound" — maps cleanly onto a driver-side loop over
DataFrames, with two Spark-specific obligations the naive loop gets
wrong:

1. **Lineage truncation.** Round N's plan must not re-execute rounds
   1..N-1; each round is cut with ``localCheckpoint(eager=True)``
   (the classic iterative-Spark trap — without it the job tree grows
   exponentially).
2. **Cheap convergence tests.** The per-round convergence check is an
   aggregate on the (already materialized) round result — never a
   collect of the data itself, and never a join of the new round
   against the old one. ``connected_components`` (operators/dedup.py)
   writes a ``changed`` flag into each round's checkpoint and tests it
   with ``filter(changed).limit(1).count()``; ``bfs_distances`` below
   compares one node count per round with the count it kept from the
   round before.
3. **Loop-invariant inputs materialized once.** Anything every round
   reads (the edge list) is checkpointed before the loop; left lazy,
   its upstream plan re-executes every round.

The loop composes with everything else in the engine: the body is any
DataFrame → DataFrame function, so steps keep Catalyst optimization,
AQE, and broadcast decisions. ``connected_components`` is this same
pattern specialized to min-label propagation; ``bfs_distances`` below
is the other canonical feedback loop, frontier BFS.

Scale shape: per round, exactly the shuffles the body declares (one
key shuffle for BFS); state between rounds lives in the cluster as a
materialized RDD, never on the driver. Rounds are O(graph diameter)
for the graph uses — small for the enrichment/propagation graphs this
engine targets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iterate(
    initial: DataFrame,
    body: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Run ``body`` up to ``max_rounds`` times, feeding each round's
    output into the next; stop early when ``converged(prev, new)``.

    Each round's result is materialized via ``localCheckpoint`` so the
    final plan is O(1) deep regardless of round count.
    """
    state = initial.localCheckpoint(eager=True)
    for rnd in range(max_rounds):
        new = body(state, rnd).localCheckpoint(eager=True)
        if converged is not None and converged(state, new):
            return new
        state = new
    return state


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    node_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Min-hop distance from a seed set over a directed edge list,
    bounded at ``max_hops`` — frontier BFS as an ``iterate`` body.

    Returns (node, dist) with dist = the minimum number of edges from
    any seed, for every node within ``max_hops``. Each round shuffles
    once on node id (the frontier⋈edges join + the min-dist groupBy
    share the key); the frontier-empty test ends the loop early.

    Oracle-equivalent: a recursive CTE ``reach(node, d)`` expanded to
    depth < max_hops, then MIN(d) per node.
    """
    # materialize the edge list once — every round joins against it, and
    # without this the edges' upstream plan (often a join+distinct) would
    # re-execute per round
    edges = edges.select(
        F.col(src_col).alias(src_col), F.col(dst_col).alias(dst_col)
    ).localCheckpoint(eager=True)

    init = seeds.select(F.col(node_col).alias("node")).distinct().withColumn(
        "dist", F.lit(0).cast("long")
    )

    def step(dist: DataFrame, rnd: int) -> DataFrame:
        frontier = dist.filter(F.col("dist") == rnd)
        reached = (
            edges.join(frontier, edges[src_col] == frontier["node"])
            .select(edges[dst_col].alias("node"),
                    F.lit(rnd + 1).cast("long").alias("dist"))
        )
        return (
            dist.unionByName(reached)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )

    # the previous round's node count, kept so each round runs one count
    n_prev: int | None = None

    def settled(prev: DataFrame, new: DataFrame) -> bool:
        # BFS distances never improve after first discovery, so an
        # unchanged node count means the frontier added nothing — done
        nonlocal n_prev
        if n_prev is None:
            n_prev = prev.count()
        n_new = new.count()
        done = n_new == n_prev
        n_prev = n_new
        return done

    return iterate(init, step, max_hops, converged=settled)
