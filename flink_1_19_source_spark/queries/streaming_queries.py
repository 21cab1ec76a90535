"""Streaming coverage queries (SURVEY §2.5 W1/W4-S, §2.6 O6/O7-S, §2.3
J5-S, §2.9 X1/X4).

Each entry REALLY runs Structured Streaming: the events table is replayed
as a time-ordered file stream (8 micro-batches, availableNow trigger,
checkpointed state store), drained into a sink, and the converged result
is returned as the query's DataFrame. Because event-time logic is
deterministic given the data, the converged result is DuckDB-oracle-able —
the oracle expresses the same event-time semantics in batch SQL (append
sinks: windows closed by the final watermark; update sinks: the final
keyed snapshot).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..streaming import ops, replay, sinks, topn
from ..tables import load_table

_WORK_ROOT = os.path.join(tempfile.gettempdir(), "sgraft_stream_queries")

def _ts_literal_df(spark: SparkSession, val, col: str = "m") -> DataFrame:
    """One-row timestamp-literal DataFrame built JVM-side.  A Python-list
    ``createDataFrame`` is RDD-backed, and WRITING it spawns a Python
    worker per task (measured ~3 s per 1-row ledger write — the single
    biggest slice of the punctuated stream's per-batch floor); a pure-SQL
    literal stays a Catalyst LocalRelation and writes JVM-only (~0.2 s).
    Session tz is UTC (session.py), so the literal round-trips exactly."""
    if val is None:
        return spark.sql(f"SELECT CAST(NULL AS TIMESTAMP) AS {col}")
    iso = val.strftime("%Y-%m-%d %H:%M:%S.%f")
    return spark.sql(f"SELECT TIMESTAMP '{iso}' AS {col}")


def _work_dir(sf_dir: str, name: str) -> str:
    # per-(sf, query) scratch: chunk files are reused across calls, the
    # checkpoint is rebuilt per run (epoch suffix would break determinism)
    key = os.path.basename(sf_dir.rstrip("/"))
    d = os.path.join(_WORK_ROOT, key, name)
    os.makedirs(d, exist_ok=True)
    return d


#: Micro-batches per replay: 4 chunk files consumed 2 per trigger = TWO
#: micro-batches. Every watermark/timer/state op here is chunk-count-
#: invariant (append windows close on the FINAL watermark; keyed snapshots
#: depend only on per-key order, which the ts-sorted replay preserves at
#: any batching), so two batches already prove the contract that matters —
#: state/timers/watermarks survive a batch boundary — while each extra
#: batch pays fixed planning + state-commit + Python-worker cost (measured
#: ~2× suite time going 2→4 batches). This is the same knob as Flink's
#: mini-batch interval: larger batches = throughput, smaller = latency.
_CHUNKS = 4
_FILES_PER_TRIGGER = 2


def _events_stream(spark: SparkSession, sf_dir: str, name: str):
    wd = _work_dir(sf_dir, name)
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_CHUNKS,
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    return sdf, wd


def _drain_to_memory(
    spark: SparkSession, sdf: DataFrame, name: str, mode: str, wd: str,
) -> DataFrame:
    """Drain `sdf` into the memory table `name` on a fresh checkpoint
    (at `replay.STATE_PARTITIONS` state partitions) and return it."""
    import shutil
    import uuid

    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_available_now(
        sdf, name, output_mode=mode, checkpoint_dir=ckpt
    )
    out = spark.table(name)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "s_tumble_stream",
    oracle="""
    WITH closed AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             <= (SELECT wm FROM closed)
    """,
    survey="W1-S X1 X4",
    tags=("streaming",),
)
def s_tumble_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TUMBLE(1h) agg, append mode: emits exactly the windows the
    final watermark (max ts − 10 min) has closed — Flink's emit-on-
    watermark. Run through a real replayed stream with checkpointed state."""
    sdf, wd = _events_stream(spark, sf_dir, "s_tumble")
    out = _drain_to_memory(
        spark,
        ops.tumble_agg(sdf, "ts", "1 hour", ["event_type"]),
        "s_tumble_q",
        sinks.plan_sink("windowed_agg").output_mode,
        wd,
    )
    return out


@register(
    "s_hop_stream",
    oracle="""
    WITH wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events),
    ex AS (
        SELECT event_type,
               UNNEST([time_bucket(INTERVAL '1 hour', ts) - INTERVAL 1 HOUR,
                       time_bucket(INTERVAL '1 hour', ts)]) AS window_start
        FROM events
    )
    SELECT event_type, window_start, COUNT(*) AS n
    FROM ex
    WHERE window_start + INTERVAL 2 HOUR <= (SELECT w FROM wm)
    GROUP BY event_type, window_start
    """,
    survey="W2-S X1",
    tags=("streaming",),
)
def s_hop_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HOP(slide 1h, size 2h) agg, append mode: each event lands
    in size/slide = 2 overlapping windows; only windows the final
    watermark closed are emitted (same emit rule as s_tumble_stream)."""
    sdf, wd = _events_stream(spark, sf_dir, "s_hop")
    return _drain_to_memory(
        spark,
        ops.hop_agg(sdf, "ts", "2 hours", "1 hour", ["event_type"]),
        "s_hop_q",
        sinks.plan_sink("windowed_agg").output_mode,
        wd,
    )


@register(
    "s_cumulate_stream",
    oracle="""
    WITH wm AS (
        SELECT time_bucket(INTERVAL '2 hours', MAX(ts)) - INTERVAL 10 MINUTE AS w
        FROM events
    )
    SELECT event_type, window_start, window_end,
           COUNT(*) AS n, ROUND(SUM(value), 6) AS total
    FROM (
        SELECT event_type, value,
               time_bucket(INTERVAL '2 hours', ts) AS window_start,
               time_bucket(INTERVAL '2 hours', ts)
                 + INTERVAL '30 minutes' * k AS window_end
        FROM events,
             (SELECT UNNEST(generate_series(1, 4)) AS k)
        WHERE ts < time_bucket(INTERVAL '2 hours', ts) + INTERVAL '30 minutes' * k
    )
    WHERE window_end <= (SELECT w FROM wm)
    GROUP BY event_type, window_start, window_end
    """,
    survey="W3-S X1 X4",
    tags=("streaming",),
)
def s_cumulate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUMULATE(step=30 min, max=2 h), append mode — the W3
    batch twin run through a real replayed stream. Closure rule mirrored by
    the oracle: windows ending at or before max-window-start(max ts) − 10
    min are emitted (see ops.cumulate_agg watermark compensation)."""
    sdf, wd = _events_stream(spark, sf_dir, "s_cumulate")
    return _drain_to_memory(
        spark,
        ops.cumulate_agg(
            sdf, "ts", step="30 minutes", max_size="2 hours", keys=["event_type"]
        ),
        "s_cumulate_q",
        sinks.plan_sink("windowed_agg").output_mode,
        wd,
    )


@register(
    "s_dedup_within_watermark_stream",
    oracle="""
    SELECT event_type, hour, event_id, ts
    FROM (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS hour,
               event_id, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type, time_bucket(INTERVAL '1 hour', ts)
                   ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    survey="O7-S N1-S X1",
    tags=("streaming",),
)
def s_dedup_within_watermark_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keep-first dedup per (event_type, hour) via
    dropDuplicatesWithinWatermark. The 2 h state lifetime exceeds the 1 h
    key span, and the replay is ts-ordered, so the kept row per key equals
    the batch ts-min row.

    keep-FIRST is the one streaming op whose answer depends on raw
    ARRIVAL order (dropDuplicatesWithinWatermark keeps whichever row
    reaches the state partition first), so this replay feeds ONE chunk
    file per trigger: a single ordered source partition per micro-batch
    makes cross-file arrival races impossible and the kept row provably
    the ts-min one. With 2 files per trigger the two files' rows race
    through the keyed shuffle and a key straddling the file boundary can
    keep the later file's row (observed at sf0.01). keep-LAST and the
    count windows are immune — they compare/sort by (ts, event_id)
    explicitly in their state logic."""
    wd = _work_dir(sf_dir, "s_dedup")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_CHUNKS,
        files_per_trigger=1,
    )
    keyed = sdf.withColumn("hour", F.date_trunc("hour", "ts"))
    out = _drain_to_memory(
        spark,
        ops.dedup_keep_first(keyed, ["event_type", "hour"], "ts", delay="2 hours")
        .select("event_type", "hour", "event_id", "ts"),
        "s_dedup_q",
        sinks.plan_sink("dedup_keep_first").output_mode,
        wd,
    )
    return out


@register(
    "s_topn_stream",
    oracle="""
    SELECT event_type, event_id, value, rank FROM (
        SELECT event_type, event_id, value,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY value DESC, event_id)
                 AS BIGINT) AS rank
        FROM events
    ) WHERE rank <= 3
    """,
    survey="O6-S X2",
    tags=("streaming",),
)
def s_topn_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Top-3 per event_type via applyInPandasWithState (keyed
    state + update mode — Flink's retractable rank operator), materialized
    through the PRODUCTION sink path: each micro-batch's refreshed
    snapshot rows are applied to a JDBC (embedded Derby) table with one
    staging+MERGE keyed on (event_type, rank) — zero driver-side row
    collection anywhere. The final table equals the batch
    row_number()<=3 answer."""
    import shutil
    import uuid

    from ..sources import jdbc as jdbc_mod

    sdf, wd = _events_stream(spark, sf_dir, "s_topn")
    tgt = jdbc_mod.JdbcTableSource(
        jdbc_mod.derby_url(os.path.join(wd, "derby")),
        "TOPN_STATE",
        # Derby cannot compare CLOB (Spark's default StringType mapping) in
        # a MERGE ON clause — the key column must be VARCHAR
        column_types={"event_type": "VARCHAR(64)"},
    )
    tgt.ensure_table(
        spark.createDataFrame(
            [], "event_type string, event_id long, value double, rank long"
        ),
        overwrite=True,
    )

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        tgt.upsert(batch_df, pk_cols=["event_type", "rank"])

    plan = sinks.plan_sink("topn")  # update + keyed_merge (§7.4)
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        topn.streaming_topn(sdf, n=3),
        merge_batch,
        checkpoint_dir=ckpt,
        output_mode=plan.output_mode,
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return tgt.scan(spark).select("event_type", "event_id", "value", "rank")


@register(
    "s_keep_last_stream",
    oracle="""
    SELECT user_id, event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    survey="O7-S X2",
    tags=("streaming",),
)
def s_keep_last_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup keep-LAST per user_id via applyInPandasWithState
    (ValueState holding the latest row — not expressible with
    dropDuplicates, which keeps first). Materialized through the
    distributed CoW MERGE sink (ParquetMergeSink) — no row ever touches
    the driver."""
    import shutil
    import uuid

    sdf, wd = _events_stream(spark, sf_dir, "s_keeplast")
    state = os.path.join(wd, f"merge-{uuid.uuid4().hex[:8]}")
    sink = sinks.ParquetMergeSink(spark, state, pk_cols=["user_id"])
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        topn.streaming_keep_last(sdf), sink, checkpoint_dir=ckpt,
        output_mode=sinks.plan_sink("dedup_keep_last").output_mode,
    )
    out = sink.snapshot_df().select("user_id", "event_id").localCheckpoint()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    return out


@register(
    "s_interval_join_stream",
    oracle="""
    SELECT l.event_id AS l_id, r.event_id AS r_id
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 30 MINUTE
    WHERE l.event_type = 'signup'
    """,
    survey="J5-S X1",
    tags=("streaming",),
)
def s_interval_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (signup → same-user events within 30
    min), both sides watermarked; state pruned by the time bound."""
    sdf1, wd = _events_stream(spark, sf_dir, "s_ijoin")
    sdf2, _ = _events_stream(spark, sf_dir, "s_ijoin")
    left = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = sdf2.select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    joined = ops.interval_join(
        left, right, key="user_id", left_ts="l_ts", right_ts="r_ts",
        lower="0 seconds", upper="30 minutes",
    ).select("l_id", "r_id")
    return _drain_to_memory(
        spark, joined, "s_ijoin_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_window_join_stream",
    oracle="""
    SELECT l.event_id AS l_id, r.event_id AS r_id,
           time_bucket(INTERVAL '1 hour', l.ts) AS window_start
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND time_bucket(INTERVAL '1 hour', l.ts)
         = time_bucket(INTERVAL '1 hour', r.ts)
    WHERE l.event_type = 'signup' AND r.event_type = 'error'
    """,
    survey="J8-S W1-S X1",
    tags=("streaming",),
)
def s_window_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming window join (J8-S): signups joined to same-user errors in
    the SAME 1h tumble, both sides watermarked; window-column equality
    bounds state to live windows (Flink window-TVF join semantics)."""
    sdf1, wd = _events_stream(spark, sf_dir, "s_wjoin")
    sdf2, _ = _events_stream(spark, sf_dir, "s_wjoin")
    left = sdf1.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    right = sdf2.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    joined = ops.window_join(
        left, right, keys=["user_id"], left_ts="l_ts", right_ts="r_ts",
        size="1 hour",
    ).select("l_id", "r_id", "window_start")
    return _drain_to_memory(
        spark, joined, "s_wjoin_q",
        sinks.plan_sink("stream_stream_join").output_mode, wd,
    )


@register(
    "s_temporal_join_stream",
    oracle="""
    WITH build AS (
      SELECT user_id, ts, max_by(value, event_id) AS bval
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ), probe AS (
      SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.user_id, p.event_id, p.ts, b.bval AS asof_value, b.ts AS asof_ts
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.ts >= b.ts
    """,
    survey="J6-S X2",
    tags=("streaming",),
)
def s_temporal_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming temporal join (J6-S): purchases enriched with the view
    version in effect at their event time — Flink `FOR SYSTEM_TIME AS OF`
    on keyed O(1)-per-key state (streaming/temporal_join.py). Same probe/
    build shape as the batch twin j6_asof_join; oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from ..streaming.temporal_join import streaming_temporal_join

    sdf, wd = _events_stream(spark, sf_dir, "s_tjoin")
    build = sdf.filter(F.col("event_type") == "view")
    probe = sdf.filter(F.col("event_type") == "purchase")
    joined = streaming_temporal_join(build, probe, key="user_id")
    return _drain_to_memory(spark, joined, "s_tjoin_q", "append", wd)


@register(
    "s_broadcast_state_join",
    oracle="""
    SELECT e.event_type,
           u.segment,
           COUNT(*) AS n
    FROM events e
    JOIN (SELECT DISTINCT user_id, user_id % 5 AS segment FROM events) u
      ON e.user_id = u.user_id
    GROUP BY e.event_type, u.segment
    """,
    survey="X7 J7",
    tags=("streaming",),
)
def s_broadcast_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-state pattern (X7): a small control/dimension table joined
    to every element of the stream. Spark shape: stream-static join — the
    static side is broadcast to every task each micro-batch (Flink:
    broadcast state updated by a control stream; refresh here = re-read
    per batch). Aggregated per type×segment in update mode, final snapshot
    via the keyed upsert sink."""
    sdf, wd = _events_stream(spark, sf_dir, "s_bcast")
    # cache the dimension: Spark re-executes the static side's plan every
    # micro-batch (that re-execution IS the "control stream refresh" hook),
    # so without a cache the distinct-shuffle would run once per batch
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", F.col("user_id") % 5)
        .cache()
    )
    joined = (
        sdf.join(F.broadcast(dim), "user_id")
        .groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    import shutil
    import uuid

    state = os.path.join(wd, f"merge-{uuid.uuid4().hex[:8]}")
    sink = sinks.ParquetMergeSink(spark, state, pk_cols=["event_type", "segment"])
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    try:
        replay.run_foreach_batch(
            joined, sink, checkpoint_dir=ckpt,
            output_mode=sinks.plan_sink("global_agg").output_mode,
        )
    finally:
        dim.unpersist()
    out = sink.snapshot_df().select("event_type", "segment", "n").localCheckpoint()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    return out


@register(
    "s_late_data_capture",
    oracle="""
    -- replicate the arrival order (user_id, ts, event_id) and the capture
    -- rule: late iff running-max(ts) over PRIOR arrivals exceeds ts by > 300 s
    SELECT event_id, ts
    FROM (
        SELECT event_id, ts,
               MAX(ts) OVER (ORDER BY user_id, ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max
        FROM events
    )
    WHERE prev_max - ts > INTERVAL 300 SECOND
    """,
    survey="W8 R6 X1",
    tags=("streaming",),
)
def s_late_data_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data side output (W8): Flink routes watermark-late rows to a
    side output; Spark drops them. The foreachBatch capture reproduces the
    side output against a deterministic out-of-order replay (arrival order
    user_id,ts — so ts regresses at user boundaries). Returns the captured
    LATE rows; the oracle replays the same running-max rule in SQL."""
    import shutil
    import uuid

    wd = _work_dir(sf_dir, "s_late")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_CHUNKS,
        order_by=["user_id", "ts", "event_id"],
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    run_id = uuid.uuid4().hex[:8]
    late_dir = os.path.join(wd, f"late-{run_id}")

    # production writer shape: both sides stay DataFrames — the late side
    # appends to its own sink, the on-time side would feed the main query
    # (dropped here: this query RETURNS the side output)
    def late_writer(df: DataFrame, batch_id: int) -> None:
        df.select("event_id", "ts").write.mode("append").parquet(late_dir)

    cap = ops.LateDataCapture(
        "ts",
        delay_seconds=300,
        order_by=["user_id", "ts", "event_id"],
        late_writer=late_writer,
        on_time_writer=lambda df, batch_id: None,
        state_dir=os.path.join(wd, f"wm-{run_id}"),
    )
    ckpt = os.path.join(wd, f"ckpt-{run_id}")
    replay.run_foreach_batch(
        sdf, cap, checkpoint_dir=ckpt,
        output_mode=sinks.plan_sink("late_side_output").output_mode,
    )
    out = spark.read.parquet(late_dir).localCheckpoint()
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(late_dir, ignore_errors=True)
    return out


@register(
    "s_allowed_lateness_stream",
    oracle="""
    WITH arr AS (
      SELECT event_type, ts, value,
             time_bucket(INTERVAL '1 hour', ts) AS window_start,
             time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
               AS window_end,
             MAX(ts) OVER (ORDER BY user_id, ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               - INTERVAL 300 SECOND AS wm
      FROM events
    ), kept AS (
      SELECT * FROM arr
      WHERE wm IS NULL OR wm < window_end + INTERVAL 900 SECOND
    )
    SELECT event_type, window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM kept
    WHERE window_end <= (SELECT MAX(ts) - INTERVAL 300 SECOND FROM events)
    GROUP BY event_type, window_start
    """,
    survey="W8 X1 X2",
    tags=("streaming",),
)
def s_allowed_lateness_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowed lateness with window re-fire (W8, full contract): tumbling
    1 h count/sum per event_type over the deterministic out-of-order
    replay (arrival order user_id,ts — ts regresses at user boundaries,
    so most rows after the first user arrive late). A late row inside
    ``end + 15 min`` of the watermark updates its window's materialized
    aggregate (the re-fire, an upsert through the bucket-pruned merge
    sink); beyond that, the row is dropped — Flink ``allowedLateness``
    exactly (streaming/allowed_lateness.py documents the boundary
    convention the oracle mirrors). Returns each fired window's FINAL
    re-fired value."""
    import shutil
    import uuid

    from ..streaming.allowed_lateness import AllowedLatenessTumble

    wd = _work_dir(sf_dir, "s_allowed_lateness")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_CHUNKS,
        order_by=["user_id", "ts", "event_id"],
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    run_dir = os.path.join(wd, f"run-{uuid.uuid4().hex[:8]}")
    op = AllowedLatenessTumble(
        spark, run_dir, key_col="event_type", ts_col="ts", value_col="value",
        window="1 hour", delay_seconds=300, lateness_seconds=900,
        order_by=["user_id", "ts", "event_id"],
    )
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        sdf, op, checkpoint_dir=ckpt,
        output_mode=sinks.plan_sink("windowed_agg").output_mode,
    )
    out = op.result_df().localCheckpoint(eager=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    return out


@register(
    "s_sessionize_timers",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         <= INTERVAL '30 minutes' THEN 0 ELSE 1 END AS new_sess
        FROM events
    ), sess AS (
        SELECT user_id, ts, value,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ), agg AS (
        SELECT user_id, sid,
               MIN(ts) AS session_start, MAX(ts) AS session_last,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 6) AS total_value
        FROM sess GROUP BY user_id, sid
    ), wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT user_id, session_start, session_last, n_events, total_value
    FROM agg, wm
    WHERE session_last + INTERVAL 30 MINUTE <= w
       OR sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    """,
    survey="X2 X3 W4-S",
    tags=("streaming",),
)
def s_sessionize_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyedProcessFunction + event-time timers (X2) with TTL cleanup (X3):
    per-user sessions close either when a later event exceeds the 30 min
    gap or when the watermark passes last_ts + gap (the timer); state is
    removed on close. Emitted set = every non-final session per user, plus
    final sessions whose timer fired before the final watermark."""
    from ..streaming import sessionize

    sdf, wd = _events_stream(spark, sf_dir, "s_sessionize")
    out = _drain_to_memory(
        spark,
        sessionize.sessionize_with_timers(sdf, gap="30 minutes"),
        "s_sessionize_q",
        sinks.plan_sink("session_timers").output_mode,
        wd,
    )
    return out.select(
        "user_id",
        "session_start",
        "session_last",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


@register(
    "s_over_agg_stream",
    oracle="""
    SELECT user_id, event_id, ts,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) AS running_sum,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_n
    FROM events
    """,
    survey="O4-S X2",
    tags=("streaming",),
)
def s_over_agg_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OVER agg (O4): per-row emit of the per-user running
    SUM/COUNT, O(1) keyed state (streaming/over_agg.py) — Flink's
    `SUM(x) OVER (PARTITION BY k ORDER BY ts ROWS UNBOUNDED PRECEDING)`
    on an ordered stream."""
    from ..streaming import over_agg

    sdf, wd = _events_stream(spark, sf_dir, "s_over")
    return _drain_to_memory(
        spark,
        over_agg.streaming_over_sum(sdf),
        "s_over_q",
        sinks.plan_sink("over_agg").output_mode,
        wd,
    )


@register(
    "s_match_recognize_stream",
    oracle="""
    WITH sym AS (
        SELECT user_id,
               string_agg(CASE event_type WHEN 'signup' THEN 'A'
                                          WHEN 'click' THEN 'B'
                                          WHEN 'view' THEN 'B'
                                          WHEN 'purchase' THEN 'C'
                                          ELSE 'X' END,
                          '' ORDER BY ts, event_id) AS s
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(regexp_extract_all(s, 'AB+C')) AS BIGINT) AS n_matches,
           CAST(COALESCE(list_max(list_transform(regexp_extract_all(s, 'AB+C'),
                                                 m -> LEN(m))), 0) AS BIGINT)
             AS longest_match
    FROM sym
    WHERE len(regexp_extract_all(s, 'AB+C')) > 0
    """,
    survey="X5-S X2",
    tags=("streaming",),
)
def s_match_recognize_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP NFA (X5): A B+ C matched incrementally in keyed state
    (streaming/cep_stream.py) over the replayed event stream — each match
    emitted the micro-batch its closing row arrives. The emitted match set
    must equal the batch scan's (same oracle as x5_match_recognize_abc)."""
    from ..operators import cep as cep_batch
    from ..streaming import cep_stream

    sdf, wd = _events_stream(spark, sf_dir, "s_cep")
    symbols = {"signup": "A", "click": "B", "view": "B", "purchase": "C"}
    matches = cep_stream.streaming_match_recognize(
        sdf,
        key_col="user_id",
        ts_col="ts",
        id_col="event_id",
        symbol=cep_batch.classify(symbols)(F.col("event_type")),
        pattern="AB+C",
        start_chars="A",
    )
    out = _drain_to_memory(
        spark, matches, "s_cep_q", sinks.plan_sink("cep_match").output_mode, wd
    )
    return out.groupBy(F.col("key").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.max("n_rows").alias("longest_match"),
    )


@register(
    "s_cdc_apply",
    oracle="""
    WITH oped AS (
        SELECT user_id, event_id, ts, value,
               CASE event_type WHEN 'signup' THEN 'c'
                               WHEN 'error' THEN 'd'
                               ELSE 'u' END AS op
        FROM events
    ), latest AS (
        SELECT user_id, event_id, ts, value, op,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM oped
    )
    SELECT user_id, event_id, value
    FROM latest WHERE rn = 1 AND op <> 'd'
    """,
    survey="X6 X4",
    tags=("streaming",),
)
def s_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC ingestion (X6) as a REAL checkpointed stream: events are
    replayed in (ts, event_id) arrival order; every micro-batch synthesizes
    a debezium-ish op column (signup→c, error→d, else u), maps ops to
    RowKind (interpret_cdc), folds the batch changelog to latest-op-per-key
    (fold_changelog_batch), and applies it to the JDBC (embedded Derby)
    target with one staging+MERGE — '+I/+U' upsert, '-D' DELETEs the key.

    Cross-batch convergence: the replay arrival order equals the oracle's
    (ts, event_id) tiebreak, so last-MERGE-wins across micro-batches equals
    the single batch fold; availableNow retries of a batch re-MERGE the
    same fold (idempotent), giving the exactly-once effect (X4)."""
    import shutil
    import uuid

    from ..sources import jdbc as jdbc_mod

    wd = _work_dir(sf_dir, "s_cdc")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_CHUNKS,
        order_by=["ts", "event_id"],
    )
    changelog = sinks.interpret_cdc(
        sdf.withColumn(
            "op",
            F.when(F.col("event_type") == "signup", "c")
            .when(F.col("event_type") == "error", "d")
            .otherwise("u"),
        )
    ).select("user_id", "event_id", "ts", "value", "_rowkind")

    tgt = jdbc_mod.JdbcTableSource(
        jdbc_mod.derby_url(os.path.join(wd, "derby")),
        "CDC_STATE",
        column_types={"_rowkind": "VARCHAR(8)"},
    )
    tgt.ensure_table(
        spark.createDataFrame([], "user_id long, event_id long, value double"),
        overwrite=True,
    )

    def apply_cdc(batch_df: DataFrame, batch_id: int) -> None:
        folded = sinks.fold_changelog_batch(
            batch_df, ["user_id"], "ts", tiebreak_cols=["event_id"]
        )
        tgt.upsert(
            folded.select("user_id", "event_id", "value", "_rowkind"),
            pk_cols=["user_id"],
            op_col="_rowkind",
        )

    plan = sinks.plan_sink("cdc_apply")  # update + keyed_merge (§7.4)
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        changelog, apply_cdc, checkpoint_dir=ckpt, output_mode=plan.output_mode
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return tgt.scan(spark).select("user_id", "event_id", "value")
