"""dedup.connected_components: the caller's pair plan is executed once,
not once per round (the non-convergence error is pinned on the 64-node
path in test_r8_tail)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_1_19_source_spark.operators.dedup import connected_components


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
