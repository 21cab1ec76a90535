"""dedup.connected_components: the caller's pair plan is executed once,
not once per round (the non-convergence error is pinned on the 64-node
path in test_r8_tail); connected_components_star raises instead of
returning partial labels when ``max_iter`` runs out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_1_19_source_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)


def test_pair_plan_runs_once(spark):
    """The edge list is materialized before the loop: a UDF in the pair
    plan is evaluated once per input row, however many rounds run.  The
    6-node path needs 4 changing rounds after the seed."""
    sc = spark.sparkContext
    calls = sc.accumulator(0)

    def tap(x):
        calls.add(1)
        return x

    tap_udf = F.udf(tap, "long").asNondeterministic()
    rows = [(i, i + 1) for i in range(5)] + [(10, 11), (11, 12)]
    pairs = spark.createDataFrame(rows, "a long, b long").select(
        tap_udf("a").alias("id_a"), F.col("b").alias("id_b")
    )
    got = {(r.id, r.component) for r in connected_components(pairs).collect()}
    assert calls.value == len(rows)
    assert got == {(i, 0) for i in range(6)} | {(i, 10) for i in (10, 11, 12)}


def test_star_raises_when_max_iter_runs_out(spark):
    """The path 1-2-3 is not a star: its one allowed round rewires it
    to 1-2, 1-3, so the labels would be partial."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components_star(pairs, max_iter=1)


def test_star_converged_in_last_round_returns_labels(spark):
    """A single edge is already a star: the one allowed round leaves it
    unchanged, which is convergence, not exhaustion."""
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = connected_components_star(pairs, max_iter=1).collect()
    assert {(r.id, r.component) for r in got} == {(1, 1), (2, 1)}
