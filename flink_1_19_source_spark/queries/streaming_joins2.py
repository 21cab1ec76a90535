"""Streaming outer/chained join tier + punctuated watermarks (SURVEY
§2.3 J5-S/J8-S, §2.9 X1/X4).

The retraction-free heavy-join streams (outer interval join, outer and
full window joins, the chained 3-way interval join) and the punctuated
watermark generator with its crash-stable wm_prev ledger.  Split out of
queries/streaming_queries.py (same registry names, shared replay
helpers imported from there) to keep modules under the house size
bound.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..streaming import ops, replay, sinks
from . import streaming_queries as _sq
from .streaming_queries import (
    _drain_to_memory,
    _events_stream,
    _ts_literal_df,
    _work_dir,
)

@register(
    "s_interval_join_outer_stream",
    oracle="""
    -- the join watermark is the MIN of the two inputs' watermarks, and
    -- each input is the FILTERED stream (signups / purchases), so its
    -- watermark tracks that side's own max event time
    WITH wm AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
             ) - INTERVAL 10 MINUTE AS w
    ),
    l AS (SELECT user_id, event_id AS l_id, ts AS l_ts FROM events
          WHERE event_type = 'signup'),
    matched AS (
      SELECT l.l_id, r.event_id AS r_id
      FROM l JOIN events r
        ON l.user_id = r.user_id
       AND r.ts >= l.l_ts AND r.ts <= l.l_ts + INTERVAL 30 MINUTE
       AND r.event_type = 'purchase'
    )
    SELECT l_id, r_id FROM matched
    UNION ALL
    SELECT l.l_id, NULL AS r_id
    FROM l, wm
    WHERE l.l_id NOT IN (SELECT l_id FROM matched)
      AND l.l_ts + INTERVAL 30 MINUTE < wm.w
    """,
    survey="J5-S J2 X1",
    tags=("streaming",),
)
def s_interval_join_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join (Flink LEFT interval join):
    signups matched to in-window purchases; unmatched signups emit
    null-padded ONLY once the watermark passes their match window (state
    eviction = Flink's cleanup timer). The oracle mirrors both rules:
    matches unconditionally (the availableNow drain sees both sides),
    null rows gated on l_ts + upper < final watermark. The replay is
    strictly ts-ordered: an out-of-order-beyond-delay signup would be
    watermark-DROPPED (emitting neither match nor null — correct per the
    late-data rule, but it would entangle this oracle with arrival
    order; s_late_data_capture owns that rule)."""
    wd = _work_dir(sf_dir, "s_ijoin_outer")
    sdf1 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    sdf2 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    left = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = sdf2.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    joined = ops.interval_join(
        left, right, key="user_id", left_ts="l_ts", right_ts="r_ts",
        lower="0 seconds", upper="30 minutes", how="leftOuter",
    ).select("l_id", "r_id")
    return _drain_to_memory(
        spark, joined, "s_ijoin_outer_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_window_join_outer_stream",
    oracle="""
    WITH wm AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'error')
             ) - INTERVAL 10 MINUTE AS w
    ),
    l AS (SELECT user_id, event_id AS l_id, ts,
                 time_bucket(INTERVAL '1 hour', ts) AS ws
          FROM events WHERE event_type = 'signup'),
    r AS (SELECT user_id, event_id AS r_id,
                 time_bucket(INTERVAL '1 hour', ts) AS ws
          FROM events WHERE event_type = 'error'),
    matched AS (
      SELECT l.l_id, r.r_id, l.ws FROM l JOIN r
        ON l.user_id = r.user_id AND l.ws = r.ws
    )
    SELECT l_id, r_id, ws AS window_start FROM matched
    UNION ALL
    SELECT l.l_id, NULL AS r_id, l.ws AS window_start
    FROM l, wm
    WHERE l.l_id NOT IN (SELECT l_id FROM matched)
      AND l.ws + INTERVAL 1 HOUR < wm.w
    """,
    survey="J8-S J2 X1",
    tags=("streaming",),
)
def s_window_join_outer_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER streaming window join (Flink window-join outer
    variants): unmatched signups null-pad once the watermark passes
    their window's END — state eviction time; the join watermark is the
    MIN of the two FILTERED sides' own watermarks (the rule
    s_interval_join_outer_stream pinned). ts-ordered replay keeps
    late-drop semantics out of this oracle."""
    wd = _work_dir(sf_dir, "s_wjoin_outer")
    sdf1 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    sdf2 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    left = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = sdf2.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    joined = ops.window_join(
        left, right, keys=["user_id"], left_ts="l_ts", right_ts="r_ts",
        size="1 hour", how="leftOuter",
    ).select("l_id", "r_id", "window_start")
    return _drain_to_memory(
        spark, joined, "s_wjoin_outer_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_window_join_full_stream",
    oracle="""
    WITH wm AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'signup'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'error')
             ) - INTERVAL 10 MINUTE AS w
    ),
    l AS (SELECT user_id, event_id AS l_id,
                 time_bucket(INTERVAL '1 hour', ts) AS ws
          FROM events WHERE event_type = 'signup'),
    r AS (SELECT user_id, event_id AS r_id,
                 time_bucket(INTERVAL '1 hour', ts) AS ws
          FROM events WHERE event_type = 'error'),
    matched AS (
      SELECT l.l_id, r.r_id, l.ws FROM l JOIN r
        ON l.user_id = r.user_id AND l.ws = r.ws
    )
    SELECT l_id, r_id, ws AS window_start FROM matched
    UNION ALL
    SELECT l.l_id, NULL AS r_id, l.ws AS window_start
    FROM l, wm
    WHERE l.l_id NOT IN (SELECT l_id FROM matched)
      AND l.ws + INTERVAL 1 HOUR < wm.w
    UNION ALL
    SELECT NULL AS l_id, r.r_id, r.ws AS window_start
    FROM r, wm
    WHERE r.r_id NOT IN (SELECT r_id FROM matched)
      AND r.ws + INTERVAL 1 HOUR < wm.w
    """,
    survey="J8-S J2 X1",
    tags=("streaming",),
)
def s_window_join_full_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER streaming window join — both sides null-pad once the
    watermark passes their window's end (signup-without-incident AND
    incident-without-signup windows emit); completes Flink's window-join
    outer family on the streaming tier.  Same min-of-filtered-watermarks
    eviction rule as the left-outer twin."""
    wd = _work_dir(sf_dir, "s_wjoin_full")
    sdf1 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    sdf2 = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        order_by=["ts", "event_id"],
        files_per_trigger=_sq._FILES_PER_TRIGGER,
    )
    left = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = sdf2.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    joined = ops.window_join(
        left, right, keys=["user_id"], left_ts="l_ts", right_ts="r_ts",
        size="1 hour", how="fullOuter",
    ).select("l_id", "r_id", "window_start")
    return _drain_to_memory(
        spark, joined, "s_wjoin_full_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_three_way_interval_join_stream",
    oracle="""
    SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
           e.event_id AS error_id
    FROM events s
    JOIN events p ON s.user_id = p.user_id AND p.event_type = 'purchase'
     AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 1 DAY
    JOIN events e ON e.user_id = s.user_id AND e.event_type = 'error'
     AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 DAY
    WHERE s.event_type = 'signup'
    """,
    survey="J5-S X1 X2",
    tags=("streaming",),
)
def s_three_way_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stream-stream-stream interval join — Flink pipelines
    arbitrary-length streaming join chains [docs: queries/joins]; Spark
    since the multiple-stateful-operator support runs them in one query:
    signup → same-user purchase within 1 day → same-user error within
    1 day of THAT purchase.  Only the three source streams carry
    withWatermark; the intermediate join's event-time column (p_ts)
    keeps its watermark METADATA through the select, and re-defining it
    would throw — the second join keys its state eviction off the
    propagated watermark.  Each join is keyed state bounded by its time
    range; inner emission is eager (no watermark wait), so the drained
    chain equals the 3-way batch join (the oracle)."""
    from ..streaming.ops import with_bounded_out_of_orderness as _wboo

    sdf1, wd = _events_stream(spark, sf_dir, "s_chain3")
    sdf2, _ = _events_stream(spark, sf_dir, "s_chain3")
    sdf3, _ = _events_stream(spark, sf_dir, "s_chain3")
    s = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts"), F.col("event_id").alias("signup_id")
    )
    p = sdf2.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    e = sdf3.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_uid"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("error_id"),
    )
    j1 = (
        _wboo(s, "s_ts", "10 minutes")
        .join(
            _wboo(p, "p_ts", "10 minutes"),
            (F.col("user_id") == F.col("p_uid"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 DAY")),
        )
        .select("user_id", "signup_id", "purchase_id", "p_ts")
    )
    j2 = j1.join(
        _wboo(e, "e_ts", "10 minutes"),
        (F.col("user_id") == F.col("e_uid"))
        & (F.col("e_ts") >= F.col("p_ts"))
        & (F.col("e_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 DAY")),
    )
    out = j2.select("signup_id", "purchase_id", "error_id")
    return _drain_to_memory(
        spark, out, "s_chain3_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_punctuated_watermark_stream",
    oracle="""
    WITH wm AS (
      SELECT MAX(ts) AS w FROM events WHERE event_type = 'error'
    ), agg AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 hour', ts) AS window_start,
             COUNT(*) AS n,
             ROUND(SUM(value), 6) AS total
      FROM events WHERE event_type <> 'error'
      GROUP BY 1, 2
    )
    SELECT event_type, window_start, n, total
    FROM agg, wm
    WHERE window_start + INTERVAL '1 hour' <= wm.w
    """,
    survey="X1 W1-S X2 X4",
    tags=("streaming",),
)
def s_punctuated_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUNCTUATED watermark generation — the ``onEvent`` half of Flink's
    WatermarkGenerator interface (the periodic half drives every other
    X1 query): the watermark advances ONLY when a designated marker
    event arrives ('error' rows double as stream punctuation carrying
    "nothing older than my ts follows"), never from a max-seen-ts
    heuristic.  The observable difference is the FINAL emitted set:
    tumbling windows close against the maximum MARKER timestamp, so
    every window past the last marker stays open forever — exactly what
    the oracle's MAX(ts) FILTER (event_type='error') bound checks,
    which a periodic generator would get wrong whenever trailing
    non-marker events extend past the last marker (they do here).

    Mechanics per micro-batch: marker maxima append to a marks log,
    per-window partial counts MERGE into a self-compacting SegmentStore
    (state bounded by the window domain, not the stream), and the
    windows newly closed by this batch's punctuated watermark — closed
    now but not under the previous batch's — append once to the sink.

    Crash-replay (X4): the "previous watermark" CANNOT be recomputed
    from the marks log on a replay — a re-run of batch k would see its
    own marker already appended, compute wm_prev == wm_cur, and
    overwrite the output segment that held batch k's closed windows
    with an empty one.  So wm_prev is persisted per batch id BEFORE the
    marker append (a one-row ``_SUCCESS``-gated parquet ledger): a
    replayed batch reads the committed value from its first attempt,
    and a crash inside the ledger write itself replays before any other
    mutation.  All mutations are overwrite-idempotent per batch id, so
    crash replays converge (pinned by
    ``test_punctuated_watermark_crash_replay_converges``); the running
    max is monotone, so any chunk slicing emits each window exactly
    once (invariance-pinned).  Late rows (window already closed by a
    marker) would drop per Flink's rule — unreachable under the
    event-time-ordered replay, stated for the record."""
    return _punctuated_wm_run(spark, sf_dir)


def _punctuated_wm_run(
    spark: SparkSession, sf_dir: str, crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    import glob as _glob
    import shutil
    import uuid

    from ..streaming.segments import SegmentStore

    sdf, wd = _events_stream(spark, sf_dir, "s_punct_wm")
    run = uuid.uuid4().hex[:8]
    marks = SegmentStore(spark, os.path.join(wd, f"marks-{run}"),
                         compact_every=2,
                         merge=lambda df: df.groupBy().agg(
                             F.max("m").alias("m")))
    state = SegmentStore(spark, os.path.join(wd, f"wstate-{run}"),
                         compact_every=2,
                         merge=lambda df: df.groupBy(
                             "event_type", "window_start").agg(
                             F.sum("n").alias("n"),
                             F.sum("tdec").alias("tdec")))
    out = SegmentStore(spark, os.path.join(wd, f"out-{run}"),
                       compact_every=4)
    led_root = os.path.join(wd, f"wmprev-{run}")
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            # wm_prev ledger: replay-stable "watermark before this
            # batch".  Must be resolved BEFORE this batch's marker
            # lands in the marks log (see docstring).
            led = os.path.join(led_root, f"bid-{batch_id:04d}")
            if os.path.exists(os.path.join(led, "_SUCCESS")):
                rows = spark.read.parquet(led).collect()
                wm_prev = rows[0]["m"] if rows else None
            else:
                prev = marks.read()
                wm_prev = None
                if prev is not None:
                    r = prev.agg(F.max("m").alias("m")).collect()[0]
                    wm_prev = r["m"]
                _ts_literal_df(spark, wm_prev).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(led)
            # only the in-flight batch can replay: older entries are dead
            for p in _glob.glob(os.path.join(led_root, "bid-*")):
                if int(os.path.basename(p).split("-")[1]) < batch_id:
                    shutil.rmtree(p, ignore_errors=True)
            mk_val = batch_df.filter(F.col("event_type") == "error").agg(
                F.max("ts").alias("m")
            ).collect()[0]["m"]
            if mk_val is not None:
                # the marker value is already on the driver — append it
                # as a literal row instead of re-running the agg job
                marks.append(_ts_literal_df(spark, mk_val), batch_id)
            state.append(
                batch_df.filter(F.col("event_type") != "error")
                .groupBy(
                    "event_type",
                    F.window("ts", "1 hour")["start"].alias("window_start"),
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("value").cast("decimal(27,6)"))
                    .alias("tdec"),
                ),
                batch_id,
            )
            # wm_cur = max over the whole marks log == max(wm_prev, this
            # batch's marker): wm_prev already IS the log's max before
            # this batch (ledger-resolved), so the full log re-scan +
            # collect is redundant — one fewer job per batch.  On a
            # replayed batch the ledger branch restored the same
            # wm_prev, so the recurrence is replay-stable too.
            wm_cur = mk_val if wm_prev is None else (
                wm_prev if mk_val is None else max(wm_prev, mk_val)
            )
            if wm_cur is None:
                return
            if wm_prev is not None and wm_cur == wm_prev:
                return  # watermark did not advance: nothing newly closed
            closed = (
                state.read()
                .groupBy("event_type", "window_start")
                .agg(F.sum("n").alias("n"), F.sum("tdec").alias("tdec"))
                .filter(
                    F.col("window_start") + F.expr("INTERVAL 1 HOUR")
                    <= F.lit(wm_cur)
                )
            )
            if wm_prev is not None:
                closed = closed.filter(
                    F.col("window_start") + F.expr("INTERVAL 1 HOUR")
                    > F.lit(wm_prev)
                )
            out.append(closed, batch_id)
            if crash.fire(batch_id):
                # worst spot: every store mutated (incl. this batch's
                # marker and output segment), batch uncommitted
                raise RuntimeError("injected crash after output append")
        finally:
            batch_df.unpersist()

    ckpt = os.path.join(wd, f"ckpt-{run}")
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    res = out.read()
    if res is None:
        return spark.createDataFrame(
            [], "event_type string, window_start timestamp, n long, "
            "total double",
        )
    return res.select(
        "event_type", "window_start", "n",
        F.round(F.col("tdec").cast("double"), 6).alias("total"),
    )
