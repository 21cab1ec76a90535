"""A9 continuation — the theta (KMV bottom-k) sketch family: mergeable
set-INTERSECTION estimation, batch + streaming maintenance.  Split out
of aggregates2.py (r8) to keep modules focused.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table


# --------------------------------------------------------------------------
# A9 — theta (KMV bottom-k) sketch: set-INTERSECTION estimation
# --------------------------------------------------------------------------
_THETA_K = 64
_TWO60 = 1 << 60


def _theta_oracle(k: int = _THETA_K) -> str:
    side = """
    {name} AS (
      SELECT DISTINCT CAST(CONCAT('0x',
               SUBSTRING(md5(CONCAT('th:', CAST(user_id AS VARCHAR))), 1, 15))
             AS BIGINT) AS h
      FROM events WHERE event_type = '{et}'
    ), {name}r AS (
      SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rk,
             COUNT(*) OVER () AS n
      FROM {name}
    ), {name}th AS (
      SELECT CASE WHEN MAX(n) > {k}
                  THEN MAX(CASE WHEN rk = {k} + 1 THEN h END)
                  ELSE {two60} END AS theta
      FROM {name}r
    ), {name}keep AS (
      SELECT h FROM {name}r WHERE rk <= {k}
    )"""
    a = side.format(name="sa", et="view", k=k, two60=_TWO60)
    b = side.format(name="sb", et="purchase", k=k, two60=_TWO60)
    return f"""
    WITH {a}, {b},
    th AS (
      SELECT LEAST(sath.theta, sbth.theta) AS theta
      FROM sath, sbth
    ), inter AS (
      SELECT COUNT(*) AS m
      FROM sakeep JOIN sbkeep ON sakeep.h = sbkeep.h, th
      WHERE sakeep.h < th.theta
    ), exact AS (
      SELECT
        (SELECT COUNT(DISTINCT user_id) FROM events
          WHERE event_type = 'view') AS n_a,
        (SELECT COUNT(DISTINCT user_id) FROM events
          WHERE event_type = 'purchase') AS n_b,
        (SELECT COUNT(*) FROM (
           SELECT user_id FROM events WHERE event_type = 'view'
           INTERSECT
           SELECT user_id FROM events WHERE event_type = 'purchase')) AS n_i
    )
    SELECT exact.n_a, exact.n_b, exact.n_i,
           CAST(inter.m AS BIGINT) AS sample_size,
           th.theta,
           ROUND(inter.m * {float(_TWO60)!r} / th.theta, 4) AS est_i
    FROM exact, inter, th
    """


@register(
    "a18_theta_sketch_intersect",
    oracle=_theta_oracle(),
    survey="A9",
    tags=("approx",),
)
def a18_theta_sketch_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (KMV bottom-k) sketch intersection [Dasgupta et al. 2016,
    the Apache DataSketches theta family] — the operation HLL cannot do:
    estimate |A ∩ B| from two mergeable sketches without rescanning
    either side.  Each side keeps its k=64 smallest 60-bit md5 hashes
    of DISTINCT user ids with theta = the (k+1)-th minimum (2^60 when
    the side fits entirely); the intersection estimator counts common
    retained hashes below min(thetaA, thetaB) and scales by 2^60/theta.
    Every intermediate is integer-exact and engine-identical (same
    md5-portability trick as HLL/Bloom/CMS); the only float op is the
    final one-multiply-one-divide, IEEE-identical, rounded to 4dp.
    100 TB shape: per side ONE distinct pass + a rank-limit (k rows
    survive); sketches merge by union-then-re-take-k — the mergeable
    rollup that makes theta the set-algebra workhorse next to HLL's
    pure counts."""
    e = load_table(spark, sf_dir, "events")
    return _theta_result(spark, sf_dir, _theta_side_hashes(e))


def _theta_side_hashes(e: DataFrame) -> DataFrame:
    """(side, h) distinct 60-bit hashes: side 'a' = view users,
    'b' = purchase users — the rows a theta sketch retains bottom-k of."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("th:"), F.col("user_id").cast("string"))),
            1, 15,
        ), 16, 10,
    ).cast("long").alias("h")
    sides = e.filter(F.col("event_type").isin("view", "purchase")).select(
        F.when(F.col("event_type") == "view", "a").otherwise("b").alias(
            "side"
        ),
        "user_id",
    )
    return sides.distinct().select("side", h)


def _theta_retain(hashes: DataFrame) -> DataFrame:
    """Bottom-(k+1) distinct hashes per side — the sketch state.
    Mergeable: bottom-(k+1) of a union == bottom-(k+1) of the unioned
    bottom-(k+1)s, which is what the streaming twin's segment
    compaction exploits."""
    w = Window.partitionBy("side").orderBy("h")
    return (
        hashes.dropDuplicates(["side", "h"])
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _THETA_K + 1)
    )


def _theta_result(
    spark: SparkSession, sf_dir: str, hashes: DataFrame
) -> DataFrame:
    r = _theta_retain(hashes).localCheckpoint(eager=True)

    def theta_of(side: str):
        return r.filter(F.col("side") == side).groupBy().agg(
            F.coalesce(
                F.max(F.when(F.col("rk") == _THETA_K + 1, F.col("h"))),
                F.lit(_TWO60),
            ).alias("theta")
        )

    th = (
        theta_of("a")
        .crossJoin(theta_of("b").withColumnRenamed("theta", "theta_b"))
        .select(F.least("theta", "theta_b").alias("theta"))
    )
    keep = r.filter(F.col("rk") <= _THETA_K)
    inter = (
        keep.filter(F.col("side") == "a").select("h")
        .join(keep.filter(F.col("side") == "b").select("h"), "h")
        .crossJoin(F.broadcast(th))
        .filter(F.col("h") < F.col("theta"))
        .groupBy().agg(F.count(F.lit(1)).alias("m"))
    )
    # exact reference counts in ONE pass (r12): the former three serial
    # driver actions (two distinct().count() + an intersect().count(),
    # ~5 full scans of events executed back-to-back before the result
    # frame could even be built) collapse into one user_id-keyed
    # aggregate with map-side combine — n_a/n_b/n_i are per-user
    # view/purchase flags summed, value-identical, and the whole query
    # is now a single lazy action
    e = load_table(spark, sf_dir, "events")
    flags = (
        e.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("in_a"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("in_b"),
        )
    )
    # coalesce preserves the pre-r12 0-on-empty semantics: SUM over zero
    # rows is NULL, the old createDataFrame-of-counts path produced 0
    exact = flags.agg(
        F.coalesce(F.sum("in_a"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(
            F.sum(F.col("in_a") * F.col("in_b")), F.lit(0)
        ).cast("long").alias("n_i"),
    )
    return (
        exact.crossJoin(inter).crossJoin(th)
        .select(
            "n_a", "n_b", "n_i",
            F.col("m").cast("long").alias("sample_size"),
            "theta",
            F.round(
                F.col("m") * F.lit(float(_TWO60)) / F.col("theta"), 4
            ).alias("est_i"),
        )
    )


@register(
    "s_theta_sketch_stream",
    oracle=_theta_oracle(),
    survey="A9 A15 X4",
    tags=("streaming", "approx"),
)
def s_theta_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING theta-sketch maintenance: each micro-batch appends its
    sides' distinct bottom-(k+1) hashes as an overwrite-idempotent
    segment; compaction re-takes the bottom-(k+1) per side — valid
    because bottom-(k+1) of a union equals bottom-(k+1) of the unioned
    bottom-(k+1)s (the KMV mergeability that makes theta sketches the
    cross-day set-algebra tool: yesterday's sketch + today's ingest,
    never a rescan).  Live state is O(k) rows per side over arbitrary
    uptime; idempotent-by-distinctness segments make crash replay free
    (unlike the CMS twin's non-idempotent sums).  Drained estimate
    hash-matches the one-shot batch sketch at any slicing."""
    import os
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from . import streaming_queries as _sq
    from .streaming_queries import _work_dir

    wd = _work_dir(sf_dir, "s_theta")
    run = uuid.uuid4().hex[:8]
    store = SegmentStore(
        spark, os.path.join(wd, f"segs-{run}"), compact_every=2,
        merge=lambda df: _theta_retain(df).drop("rk"),
    )
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        files_per_trigger=2,
    )

    def fold(batch, bid: int) -> None:
        store.append(
            _theta_retain(_theta_side_hashes(batch)).drop("rk").coalesce(1),
            bid,
        )

    replay.run_foreach_batch(
        sdf, fold, checkpoint_dir=os.path.join(wd, f"ckpt-{run}")
    )
    return _theta_result(spark, sf_dir, store.read().select("side", "h"))
