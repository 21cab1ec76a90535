"""Window Top-N, Window Deduplication, cascading window aggregation
(SURVEY §2.5 W1/W6, §2.6 O6/O7 — the Flink 1.13+ window-TVF-derived
SQL patterns, plus the chained-stateful streaming shape).

Flink documents "Window Top-N" and "Window Deduplication" as first-class
SQL patterns: a window TVF feeding ROW_NUMBER() OVER (PARTITION BY
window_start, window_end ...) with a rank/rn predicate [Flink docs:
queries/window-topn, queries/window-deduplication]. In Spark both are a
window() groupBy/aggregate (or window assignment) followed by an
ordinary window function partitioned by the window struct — Catalyst
collapses the two into one shuffle when the partitioning matches.

``s_cascading_window_stream`` is the multi-stateful-operator shape
Flink calls cascading window aggregation (hourly pre-agg → daily
rollup). Spark 3.4+ supports chained streaming window aggregations
natively — ``window(window_col, ...)`` re-windows an upstream window
struct with watermark propagation — so the whole pipeline stays in one
Structured Streaming query with two stateful stages and append output.
This is the append-mode half of the "stateful operator consuming
another stateful operator's output" gap documented in SURVEY §1.3 (the
retract-stream half remains a declared non-goal).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.exact import dsum, sql_dsum
from ..registry import register
from ..streaming import sinks
from ..tables import load_table
from .streaming_queries import _drain_to_memory, _events_stream


@register(
    "w7_window_topn",
    oracle=f"""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id,
             COUNT(*) AS n, {sql_dsum('value')} AS total
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
                                   ORDER BY total DESC, user_id) AS rn
      FROM agg
    )
    SELECT ws AS window_start, ws + INTERVAL '1 hour' AS window_end,
           user_id, n, total, rn
    FROM r WHERE rn <= 3
    """,
    survey="O6 W1 W6",
)
def w7_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window Top-N (Flink window-topn): top-3 users by exact-decimal
    total value inside each 1 h tumbling window. Plan shape: one shuffle
    for the (window, user) agg, one for the window-partitioned rank —
    and Spark inserts WindowGroupLimit *before* the rank exchange, so
    the second shuffle carries at most 3 rows per window per map
    partition (rank-pushdown, the same optimization Flink's
    RankOperator applies)."""
    e = load_table(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
    )
    w = Window.partitionBy("w").orderBy(F.desc("total"), F.asc("user_id"))
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "user_id",
            "n",
            "total",
            "rn",
        )
    )


@register(
    "w8_window_dedup",
    oracle="""
    WITH r AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY time_bucket(INTERVAL '1 hour', ts),
                                             user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT ws AS window_start, user_id, event_id, ts
    FROM r WHERE rn = 1
    """,
    survey="O7 W1",
)
def w8_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window Deduplication (Flink window-deduplication): first event
    per (user, 1 h window) in event-time order — window-scoped
    keep-first, one shuffle on (window, user)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy(
        F.window("ts", "1 hour"), F.col("user_id")
    ).orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.window("ts", "1 hour").start.alias("window_start"),
            "user_id",
            "event_id",
            "ts",
        )
    )


@register(
    "s_cascading_window_stream",
    oracle=f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT time_bucket(INTERVAL '1 day', ts) AS day_start, event_type,
           COUNT(*) AS n, ROUND({sql_dsum('value')}, 6) AS total
    FROM events
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL '1 day', ts) + INTERVAL 1 DAY
             <= (SELECT w FROM wm)
    """,
    survey="W1-S X1 X2",
    tags=("streaming",),
)
def s_cascading_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascading window aggregation: hourly pre-agg → daily rollup as
    TWO chained stateful operators in one streaming query (Spark 3.4+
    multi-stateful support; Flink's cascading window pattern). The
    hourly stage shrinks state and shuffle for the daily stage — the
    100 TB shape for coarse rollups over high-rate streams. Append
    output: a day emits once its last hour is watermark-closed; the
    daily totals stay exact-decimal until the final cast."""
    from ..streaming import ops

    sdf, wd = _events_stream(spark, sf_dir, "s_cascade")
    hourly = (
        ops.with_bounded_out_of_orderness(sdf, "ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("total"),
        )
    )
    daily = (
        hourly.groupBy(F.window(F.col("w"), "1 day").alias("d"), "event_type")
        .agg(F.sum("n").alias("n"), F.sum("total").cast("double").alias("total"))
        .select(
            F.col("d.start").alias("day_start"),
            "event_type",
            "n",
            F.round(F.col("total"), 6).alias("total"),
        )
    )
    return _drain_to_memory(
        spark, daily, "s_cascade_q",
        sinks.plan_sink("windowed_agg").output_mode, wd,
    )


@register(
    "s_window_topn_stream",
    oracle=f"""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id,
             COUNT(*) AS n, ROUND({sql_dsum('value')}, 6) AS total
      FROM events
      GROUP BY 1, 2
      HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR
               <= (SELECT w FROM wm)
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY ws
                                   ORDER BY total DESC, user_id) AS rn
      FROM agg
    )
    SELECT ws AS window_start, user_id, n, total, rn
    FROM r WHERE rn <= 3
    """,
    survey="O6-S W1-S X1",
    tags=("streaming",),
)
def s_window_topn_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Window Top-N (Flink window-topn): hourly (window, user)
    agg emits on watermark close; every row of a closed window lands in
    the SAME micro-batch, so the per-window rank is computed per batch
    in foreachBatch and the top-3 appended to a parquet sink — all
    distributed, no driver-side rows. This is §7.4's planning insight
    applied: windowed-agg → append, rank over an append batch stays
    append (no retraction needed), unlike the global Top-N which needs
    the update/MERGE path (s_topn_stream)."""
    import shutil
    import uuid

    from pyspark.sql.window import Window as W

    from ..streaming import ops, replay

    sdf, wd = _events_stream(spark, sf_dir, "s_window_topn")
    hourly = (
        ops.with_bounded_out_of_orderness(sdf, "ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("tdec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "user_id",
            "n",
            F.round(F.col("tdec").cast("double"), 6).alias("total"),
        )
    )

    out_dir = os.path.join(wd, f"out-{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")

    def rank_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("window_start").orderBy(
            F.desc("total"), F.asc("user_id")
        )
        (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .write.mode("append")
            .parquet(out_dir)
        )

    replay.run_foreach_batch(
        hourly, rank_batch, checkpoint_dir=ckpt,
        output_mode=sinks.plan_sink("windowed_agg").output_mode,
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(out_dir)


@register(
    "s_union_stream",
    oracle="""
    WITH closed AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE user_id % 2 = 0),
               (SELECT MAX(ts) FROM events WHERE user_id % 2 = 1)
             ) - INTERVAL 10 MINUTE AS wm
    )
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             <= (SELECT wm FROM closed)
    """,
    survey="T4-S X1",
    tags=("streaming",),
)
def s_union_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source streaming UNION (Flink multi-input DataStream.union):
    two replayed sources — one carrying even user_ids, one odd — each
    with its own watermark generator over ITS OWN arrivals, unioned and
    windowed in one query. The global watermark is the MIN of the branch
    watermarks (Flink's min-propagation rule, PAPERS.md:7) — observable
    in the oracle: windows close against LEAST(max even ts, max odd ts)
    − delay, i.e. the slowest source gates closure. (Catalyst pushes the
    branch predicate below the watermark node, so each branch's
    event-time stats really are per-subset — the same behavior as two
    physical topics.)"""
    from ..streaming import ops

    a, wd = _events_stream(spark, sf_dir, "s_union_a")
    b, _ = _events_stream(spark, sf_dir, "s_union_b")
    ua = ops.with_bounded_out_of_orderness(a, "ts", "10 minutes").filter(
        F.col("user_id") % 2 == 0
    )
    ub = ops.with_bounded_out_of_orderness(b, "ts", "10 minutes").filter(
        F.col("user_id") % 2 == 1
    )
    unioned = (
        ua.unionByName(ub)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("tdec"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n",
            F.round(F.col("tdec").cast("double"), 6).alias("total"),
        )
    )
    return _drain_to_memory(
        spark, unioned, "s_union_q",
        sinks.plan_sink("windowed_agg").output_mode, wd,
    )


@register(
    "s_session_native_stream",
    oracle="""
    WITH closed AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events),
    flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         <= INTERVAL '30 minutes'
                    THEN 0 ELSE 1 END AS new_sess
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total
    FROM sess
    GROUP BY user_id, sid
    HAVING MAX(ts) + INTERVAL '30 minutes' <= (SELECT wm FROM closed)
    """,
    survey="W4-S X1",
    tags=("streaming",),
)
def s_session_native_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming SESSION windows: Spark's built-in
    ``session_window`` state merging (vs the timer-based
    s_sessionize_timers, which exercises the custom X2/X3 path this
    built-in replaces). Append mode: a session emits once the final
    watermark passes its end (= last event + gap) — Flink SESSION TVF
    emit-on-watermark."""
    from ..streaming import ops

    sdf, wd = _events_stream(spark, sf_dir, "s_sess_native")
    sess = (
        ops.with_bounded_out_of_orderness(sdf, "ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("tdec"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            F.round(F.col("tdec").cast("double"), 6).alias("total"),
        )
    )
    return _drain_to_memory(
        spark, sess, "s_sess_native_q",
        sinks.plan_sink("windowed_agg").output_mode, wd,
    )


@register(
    "w4b_dynamic_gap_session",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ms,
             CASE event_type WHEN 'click' THEN 120000
                             WHEN 'view' THEN 180000
                             ELSE 300000 END AS gap
      FROM events
    ), runs AS (
      SELECT *, MAX(ms + gap) OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e
    ), flags AS (
      SELECT *, CASE WHEN prev_end IS NULL OR ms >= prev_end
                     THEN 1 ELSE 0 END AS is_new
      FROM runs
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flags
    )
    SELECT user_id, CAST(sid AS BIGINT) AS session_id,
           MIN(ms) AS session_start_ms,
           MAX(ms + gap) AS session_end_ms,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
    survey="W4 W7",
)
def w4b_dynamic_gap_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows — DataStream
    ``EventTimeSessionWindows.withDynamicGap``: each element opens a
    window [ts, ts + gap(element)) where the gap depends on the element
    (here: per-event-type inactivity budgets), and overlapping windows
    merge. Spark has session_window(ts, gap_expr) only for constant-ish
    gaps per row WITHOUT the running-merge semantics Flink defines, so
    the merge is expressed exactly: a row starts a new session iff its ts
    is >= the running max of (ts+gap) over all earlier rows of the key —
    one shuffle (the per-key sort window), then an ordinary agg.
    100 TB: identical shape; the window sort is per-key and spills."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        F.unix_millis("ts").alias("ms"),
        F.when(F.col("event_type") == "click", F.lit(120000))
        .when(F.col("event_type") == "view", F.lit(180000))
        .otherwise(F.lit(300000))
        .alias("gap"),
    )
    from ..operators.sessions import assign_dynamic_sessions

    sess = assign_dynamic_sessions(e, "user_id", "ms", "gap", "event_id")
    return sess.groupBy("user_id", F.col("sid").cast("long").alias("session_id")).agg(
        F.min("ms").alias("session_start_ms"),
        F.max(F.col("ms") + F.col("gap")).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


@register(
    "w9_window_grouping_sets",
    oracle=f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           CAST(GROUPING(event_type) AS BIGINT) AS g_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('value')} AS sum_value
    FROM b
    GROUP BY GROUPING SETS ((window_start, event_type), (window_start))
    """,
    survey="W1 W6 A4",
)
def w9_window_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window TVF aggregation with GROUPING SETS (Flink 1.19 window aggs
    accept GROUPING SETS/CUBE/ROLLUP over the window TVF [docs:
    queries/window-agg]): per-window per-type rows plus a per-window
    rollup in ONE pass — Catalyst's Expand duplicates each row per
    grouping set before a single partial+final aggregate, so it stays
    one shuffle (same as Flink's planner Expand)."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.window("ts", "1 hour").start.alias("window_start"),
        "event_type",
        "value",
    )
    b.createOrReplaceTempView("w9_b")
    return spark.sql(
        """
        SELECT window_start, event_type,
               CAST(GROUPING(event_type) AS BIGINT) AS g_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM w9_b
        GROUP BY GROUPING SETS ((window_start, event_type), (window_start))
        """
    )


@register(
    "s_dynamic_gap_session_stream",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, value, ts, CAST(epoch_ms(ts) AS BIGINT) AS ms,
             CASE event_type WHEN 'click' THEN 120000
                             WHEN 'view' THEN 180000
                             ELSE 300000 END AS gap
      FROM events
    ), runs AS (
      SELECT *, MAX(ms + gap) OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      FROM e
    ), flags AS (
      SELECT *, CASE WHEN prev_end IS NULL OR ms >= prev_end
                     THEN 1 ELSE 0 END AS is_new
      FROM runs
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flags
    ), agg AS (
      SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ms + gap) AS session_end_ms,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(value), 6) AS total_value
      FROM sess GROUP BY user_id, sid
    ), wm AS (
      SELECT CAST(epoch_ms(MAX(ts) - INTERVAL 10 MINUTE) AS BIGINT) AS w
      FROM events
    )
    SELECT user_id, session_start, session_end_ms, n_events, total_value
    FROM agg, wm
    WHERE session_end_ms <= w
       OR sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    """,
    survey="W4-S W7 X2",
    tags=("streaming",),
)
def s_dynamic_gap_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dynamic-gap sessions (DataStream
    EventTimeSessionWindows.withDynamicGap): per-event-type inactivity
    budgets, sessions merge while events keep arriving before the
    running max of (ts + gap); closed either by a breaching event or by
    the event-time timer at the session end (watermark-clamped timers,
    streaming/dynamic_session.py). Emitted set = every non-final session
    per user + final sessions whose end the final watermark passed —
    mirrored exactly by the oracle's emission filter."""
    from ..streaming.dynamic_session import dynamic_sessionize
    from .streaming_queries import _drain_to_memory, _events_stream

    sdf, wd = _events_stream(spark, sf_dir, "s_dyn_session")
    withgap = sdf.withColumn(
        "gap_ms",
        F.when(F.col("event_type") == "click", F.lit(120000))
        .when(F.col("event_type") == "view", F.lit(180000))
        .otherwise(F.lit(300000)),
    )
    out = _drain_to_memory(
        spark, dynamic_sessionize(withgap), "s_dyn_session_q", "append", wd
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end_ms",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


@register(
    "s_window_distinct_stream",
    oracle="""
    WITH closed AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events, closed
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' <= wm
    GROUP BY time_bucket(INTERVAL '1 hour', ts)
    """,
    survey="W1-S A3 X2",
    tags=("streaming",),
)
def s_window_distinct_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed COUNT(DISTINCT) — Flink's windowed distinct
    aggregate. Spark's streaming aggregation has no exact DISTINCT, so
    the Flink-parity plan is the planner's own split-distinct shape done
    explicitly: dropDuplicates on (window, user) — keyed dedup state,
    watermark-expired — feeding a windowed COUNT, two chained stateful
    operators in one append-mode query (the Spark 3.4+ multi-stateful
    pipeline). State is O(distinct pairs per open window), exactly
    Flink's distinct-agg state."""
    from .streaming_queries import _drain_to_memory, _events_stream

    sdf, wd = _events_stream(spark, sf_dir, "s_win_distinct")
    dedup = (
        sdf.withWatermark("ts", "10 minutes")
        .select(F.window("ts", "1 hour").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    agg = dedup.groupBy("w").agg(F.count(F.lit(1)).alias("n_users"))
    out = _drain_to_memory(spark, agg, "s_win_distinct_q", "append", wd)
    return out.select(F.col("w.start").alias("window_start"), "n_users")


@register(
    "w4c_global_session",
    oracle="""
    WITH o AS (
      SELECT ts, value,
             CASE WHEN ts - LAG(ts) OVER (ORDER BY ts, event_id)
                       > INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS brk
      FROM events
    ), s AS (
      SELECT ts, value,
             SUM(brk) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT MIN(ts) AS session_start, MAX(ts) AS session_last,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(value AS DECIMAL(27,6))), 6) AS total
    FROM s GROUP BY sid
    """,
    survey="W4",
)
def w4c_global_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL session windows — SESSION TVF without PARTITION BY (Flink
    1.19's session TVF supports key-less sessionization [docs:
    queries/window-tvf]): one stream-wide activity timeline, sessions
    split on >5 min silences. Spark: ``session_window`` in a key-less
    groupBy. The single-timeline merge is inherently one-task at the
    merge step — fine for control-plane timelines; keyed sessions are
    the data-scale path (w4_session)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(27,6)")), 6)
            .cast("double")
            .alias("total"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            # session_window.end = last event + gap, exactly
            (F.col("w.end") - F.expr("INTERVAL 5 MINUTES")).alias("session_last"),
            "n_events",
            "total",
        )
    )


@register(
    "w5b_hop_offset",
    oracle=f"""
    WITH g AS (
      -- generous cover of the event span; empty windows drop in the join
      SELECT UNNEST(range(0, 80)) AS k
    ), wins AS (
      SELECT TIMESTAMP '2023-12-31 06:00:00' + k * INTERVAL 12 HOUR AS ws,
             TIMESTAMP '2023-12-31 06:00:00' + k * INTERVAL 12 HOUR
               + INTERVAL 1 DAY AS we
      FROM g
    )
    SELECT w.ws AS window_start,
           CAST(COUNT(e.ts) AS BIGINT) AS n,
           {sql_dsum('e.value')} AS total
    FROM wins w JOIN events e ON e.ts >= w.ws AND e.ts < w.we
    GROUP BY w.ws
    """,
    survey="W2 W5",
)
def w5b_hop_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOP window with offset (Flink HOP TVF offset alignment): 1-day
    windows sliding every 12 h, aligned to 06:00 — each event lands in
    size/slide = 2 windows. Spark: ``window(ts, size, slide, start)``;
    the oracle reconstructs the aligned window set explicitly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day", "12 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
        .select(F.col("w.start").alias("window_start"), "n", "total")
    )
