"""X6 continuation — SCD2 (slowly-changing-dimension type 2) history
materialization from a Debezium changelog, batch and streaming.

The standard warehouse landing pattern for CDC streams: every
insert/update opens a version, the next change on the same key closes
it, deletes close without opening — so the table answers "what was this
row's value at time T" with a BETWEEN on (valid_from, valid_to).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_SCD2_ORACLE = """
    WITH ch AS (
      SELECT user_id, event_id, ROUND(value, 6) AS value,
             CAST(epoch_ms(ts) AS BIGINT) AS ms,
             CASE WHEN event_type = 'signup' THEN 'c'
                  WHEN event_type = 'error' THEN 'd'
                  ELSE 'u' END AS op
      FROM events
    ), seq AS (
      SELECT *, LEAD(ms) OVER (PARTITION BY user_id
                               ORDER BY ms, event_id) AS next_ms
      FROM ch
    )
    SELECT user_id, event_id AS version_event_id, value,
           ms AS valid_from_ms, next_ms AS valid_to_ms,
           next_ms IS NULL AS is_current
    FROM seq WHERE op <> 'd'
    """


def _envelopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → real Debezium envelope strings (same rendering as
    src_cdc_debezium: signup=c, error=d, else=u)."""
    e = load_table(spark, sf_dir, "events")
    row = F.struct(F.col("user_id"), F.col("event_id"), F.col("value"))
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    return e.select(
        F.to_json(
            F.struct(
                F.when(op != "c", row).alias("before"),
                F.when(op != "d", row).alias("after"),
                op.alias("op"),
                F.unix_millis("ts").alias("ts_ms"),
            )
        ).alias("env")
    )


_ENV_SCHEMA = (
    "before struct<user_id: bigint, event_id: bigint, value: double>,"
    " after struct<user_id: bigint, event_id: bigint, value: double>,"
    " op string, ts_ms bigint"
)


def _parse_changes(env: DataFrame) -> DataFrame:
    """Envelope strings → (user_id, version_event_id, value, op, ms)."""
    return env.select(F.from_json("env", _ENV_SCHEMA).alias("m")).select(
        F.coalesce(F.col("m.after.user_id"), F.col("m.before.user_id"))
        .alias("user_id"),
        F.coalesce(F.col("m.after.event_id"), F.col("m.before.event_id"))
        .alias("version_event_id"),
        F.round(F.col("m.after.value"), 6).alias("value"),
        F.col("m.op").alias("op"),
        F.col("m.ts_ms").alias("ms"),
    )


@register(
    "x6_scd2_history",
    oracle=_SCD2_ORACLE,
    survey="X6",
)
def x6_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history from a Debezium changelog, batch: envelopes are
    parsed with the typed from_json decoder (a wrong image choice or
    precision loss in the JSON round trip diverges the hash), then ONE
    window pass per key assigns each c/u version its validity interval
    — valid_to = LEAD(change ms), is_current = no successor — and
    deletes close the predecessor by simply existing in the LEAD
    sequence.  100 TB shape: a single (key)-partitioned window over the
    changelog (changelogs are small relative to the corpus they
    describe); no self-join, no history rewrite."""
    changes = _parse_changes(_envelopes(spark, sf_dir))
    w = Window.partitionBy("user_id").orderBy("ms", "version_event_id")
    return (
        changes.withColumn("next_ms", F.lead("ms").over(w))
        .filter(F.col("op") != "d")
        .select(
            "user_id",
            "version_event_id",
            "value",
            F.col("ms").alias("valid_from_ms"),
            F.col("next_ms").alias("valid_to_ms"),
            F.col("next_ms").isNull().alias("is_current"),
        )
    )


@register(
    "s_scd2_stream",
    oracle=_SCD2_ORACLE,
    survey="X6 X4",
    tags=("streaming",),
)
def s_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCD2 materialization — the CDC landing job a warehouse
    actually runs: each micro-batch of Debezium envelopes closes the
    open versions of keys it touches (valid_to = the batch's first
    change per key), chains intra-batch versions with one window pass,
    and writes the new open set; untouched keys carry forward.  The
    drained history (closed log + final open set) hash-matches the
    one-shot batch rewrite — slicing-invariant because intervals are
    defined by change timestamps, never by batch boundaries (pinned
    across 3-vs-8 slicings in tests).  Crash contract: state and closed
    log are per-tick overwrite dirs read strictly at b-1, so a replayed
    batch is bit-identical (tests inject the crash after all effects).
    See streaming/scd2.Scd2Sink for the 100 TB state story."""
    return _scd2_run(spark, sf_dir)


def _scd2_run(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 4,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    import shutil

    from ..streaming import replay
    from ..streaming.scd2 import Scd2Sink
    from .streaming_queries import _work_dir

    run = "crash" if crash_once_at is not None else f"clean{chunks}"
    wd = _work_dir(sf_dir, f"s_scd2_{run}")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=chunks, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    sink = Scd2Sink(
        spark, wd, "user_id", seq_cols=["ms", "version_event_id"]
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(df: DataFrame, batch_id: int) -> None:
        row = F.struct(F.col("user_id"), F.col("event_id"), F.col("value"))
        op = (
            F.when(F.col("event_type") == "signup", "c")
            .when(F.col("event_type") == "error", "d")
            .otherwise("u")
        )
        env = df.select(
            F.to_json(
                F.struct(
                    F.when(op != "c", row).alias("before"),
                    F.when(op != "d", row).alias("after"),
                    op.alias("op"),
                    F.unix_millis("ts").alias("ts_ms"),
                )
            ).alias("env")
        )
        sink(_parse_changes(env), batch_id)
        if crash.fire(batch_id):
            raise RuntimeError("injected crash after full batch effects")

    ckpt = os.path.join(wd, "ckpt")
    for d in ("scdstate", "scdout", "ckpt"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    return sink.history_df()


@register(
    "s_window_agg_over_retract",
    oracle="""
    WITH ch AS (
      SELECT user_id, event_id, ts, event_id % 1000 AS val,
             CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
      FROM events
    ), seq AS (
      SELECT *, LAG(op) OVER w AS prev_op, LAG(val) OVER w AS prev_val
      FROM ch WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), d AS (
      SELECT date_trunc('day', ts) AS window_start,
        CASE WHEN op = 'd'
             THEN CASE WHEN prev_op IS NULL OR prev_op = 'd'
                       THEN 0 ELSE -prev_val END
             ELSE val - (CASE WHEN prev_op IS NULL OR prev_op = 'd'
                              THEN 0 ELSE prev_val END)
        END AS delta,
        CASE WHEN op = 'd'
             THEN CASE WHEN prev_op IS NULL OR prev_op = 'd'
                       THEN 0 ELSE -1 END
             ELSE CASE WHEN prev_op IS NULL OR prev_op = 'd'
                       THEN 1 ELSE 0 END
        END AS cd
      FROM seq
    )
    SELECT window_start, CAST(SUM(delta) AS BIGINT) AS sum_val,
           CAST(SUM(cd) AS BIGINT) AS net_keys
    FROM d GROUP BY window_start
    """,
    survey="W1 X6 X4",
    tags=("streaming",),
)
def s_window_agg_over_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink 1.19: window TVF aggregation over a CHANGELOG input — the
    TUMBLE aggregate consumes retractions instead of an append stream.
    Upstream, events form a keyed upsert/delete changelog (every event
    upserts its user's value, 'error' deletes the key); the windowed
    SUM/COUNT folds each change's -U/+U pair into the window of the
    CHANGE's rowtime: SUM accumulates (new - old), COUNT accumulates
    +1 only on +I and -1 on -D.  Per day-window the aggregate is the
    NET effect of that day's changes — what Flink's changelog-aware
    TUMBLE emits, and meaningless to compute from the raw append stream.

    Streaming state: a per-key mirror (the ChangelogNormalize state —
    current value per live key, deleted keys absent) and the window
    accumulator table (~30 day rows), both tick-dir overwrite parquet
    read strictly at b-1, so crash replays are bit-identical and the
    drained result is slicing-invariant (intervals bind to change
    rowtimes, pinned 3-vs-8 in tests).  At 100 TB the mirror is O(live
    keys) and each batch shuffles only (batch ∪ touched-mirror ∪
    window table) — the window table never re-reads history."""
    return _window_retract_run(spark, sf_dir)


def _window_retract_run(
    spark: SparkSession,
    sf_dir: str,
    chunks: int = 4,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    import shutil

    from ..streaming import replay
    from .streaming_queries import _work_dir

    run = "crash" if crash_once_at is not None else f"clean{chunks}"
    wd = _work_dir(sf_dir, f"s_winretract_{run}")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=chunks, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    mdir = os.path.join(wd, "mirror")
    wdir = os.path.join(wd, "winstate")

    def tick(base: str, b: int) -> str:
        return os.path.join(base, f"tick-{b:05d}")

    def read_or_empty(base: str, b: int, schema: str) -> DataFrame:
        d = tick(base, b)
        if os.path.isdir(d):
            return spark.read.parquet(d)
        return spark.createDataFrame([], schema)

    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(df: DataFrame, batch_id: int) -> None:
        b = int(batch_id)
        mirror = read_or_empty(mdir, b - 1, "user_id long, cur_val long")
        ch = df.select(
            "user_id", "event_id", "ts",
            (F.col("event_id") % 1000).alias("val"),
            F.when(F.col("event_type") == "error", "d")
            .otherwise("u").alias("op"),
        )
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = (
            ch.join(mirror, "user_id", "left")
            .withColumn("prev_op_b", F.lag("op").over(w))
            .withColumn("prev_val_b", F.lag("val").over(w))
            .withColumn(
                "prev_val",
                F.when(F.col("prev_op_b").isNull(), F.col("cur_val"))
                .when(F.col("prev_op_b") == "d", F.lit(None))
                .otherwise(F.col("prev_val_b")),
            )
            .localCheckpoint(eager=True)
        )
        absent = F.col("prev_val").isNull()
        delta = F.when(
            F.col("op") == "d",
            F.when(absent, F.lit(0)).otherwise(-F.col("prev_val")),
        ).otherwise(F.col("val") - F.coalesce("prev_val", F.lit(0)))
        cd = F.when(
            F.col("op") == "d",
            F.when(absent, F.lit(0)).otherwise(F.lit(-1)),
        ).otherwise(F.when(absent, F.lit(1)).otherwise(F.lit(0)))
        wdelta = seq.groupBy(
            F.date_trunc("day", "ts").alias("window_start")
        ).agg(
            F.sum(delta).alias("d_sum"), F.sum(cd).alias("d_cnt")
        )
        prev_win = read_or_empty(
            wdir, b - 1,
            "window_start timestamp, sum_val long, net_keys long",
        )
        merged = (
            prev_win.join(wdelta, "window_start", "full_outer")
            .select(
                "window_start",
                (F.coalesce("sum_val", F.lit(0))
                 + F.coalesce("d_sum", F.lit(0))).alias("sum_val"),
                (F.coalesce("net_keys", F.lit(0))
                 + F.coalesce("d_cnt", F.lit(0))).alias("net_keys"),
            )
        )
        merged.write.mode("overwrite").parquet(tick(wdir, b))
        # mirror update: last state per touched key, deletes drop out
        last = (
            seq.withColumn(
                "_rk",
                F.row_number().over(
                    Window.partitionBy("user_id").orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("_rk") == 1)
        )
        touched = last.select("user_id")
        new_mirror = (
            mirror.join(touched, "user_id", "left_anti")
            .unionByName(
                last.filter(F.col("op") != "d").select(
                    "user_id", F.col("val").alias("cur_val")
                )
            )
        )
        new_mirror.write.mode("overwrite").parquet(tick(mdir, b))
        for base in (mdir, wdir):
            for name in os.listdir(base):
                if name.startswith("tick-"):
                    try:
                        bid = int(name.split("-", 1)[1])
                    except ValueError:
                        continue
                    if bid < b - 1:
                        shutil.rmtree(
                            os.path.join(base, name), ignore_errors=True
                        )
        if crash.fire(batch_id):
            raise RuntimeError("injected crash after full batch effects")

    ckpt = os.path.join(wd, "ckpt")
    for d in ("mirror", "winstate", "ckpt"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    ticks = sorted(
        d for d in os.listdir(wdir) if d.startswith("tick-")
    )
    return spark.read.parquet(os.path.join(wdir, ticks[-1]))


@register(
    "x6_scd2_asof_lookup",
    oracle=f"""
    WITH ch AS (
      SELECT user_id, event_id, ROUND(value, 6) AS value,
             CAST(epoch_ms(ts) AS BIGINT) AS ms,
             CASE WHEN event_type = 'signup' THEN 'c'
                  WHEN event_type = 'error' THEN 'd'
                  ELSE 'u' END AS op
      FROM events
    ), seq AS (
      SELECT *, LEAD(ms) OVER (PARTITION BY user_id
                               ORDER BY ms, event_id) AS next_ms
      FROM ch
    ), hist AS (
      SELECT user_id, event_id AS version_event_id, value,
             ms AS valid_from_ms, next_ms AS valid_to_ms
      FROM seq WHERE op <> 'd'
    ), probes AS (
      SELECT u.user_id,
             1704153600000 + d * 86400000 AS probe_ms
      FROM (SELECT DISTINCT user_id FROM events) u
      CROSS JOIN (SELECT UNNEST(range(0, 29)) AS d)
    )
    SELECT p.user_id, p.probe_ms, h.version_event_id, h.value
    FROM probes p JOIN hist h
      ON p.user_id = h.user_id
     AND h.valid_from_ms <= p.probe_ms
     AND (h.valid_to_ms IS NULL OR p.probe_ms < h.valid_to_ms)
    """,
    survey="X6 J6",
)
def x6_scd2_asof_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 history — the query the
    history table exists to answer (Flink's FOR SYSTEM_TIME AS OF over
    a versioned table, here materialized): for every (user, day
    boundary) probe over the event month, return the version valid AT
    that instant (valid_from <= t < valid_to, open intervals unbounded)
    — users deleted at t simply produce no row, which a latest-value
    table gets WRONG (it would resurrect them).  Composes the certified
    x6_scd2_history stage; the join is key-equi + interval filter, so
    at 100 TB it shuffles on user_id and each key scans only its own
    few versions — never a cross of probes x history."""
    hist = x6_scd2_history(spark, sf_dir).select(
        "user_id", "version_event_id", "value",
        "valid_from_ms", "valid_to_ms",
    )
    users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    probes = users.crossJoin(
        spark.range(0, 29).select(
            (F.lit(1704153600000) + F.col("id") * 86400000).alias("probe_ms")
        )
    )
    return (
        probes.join(hist, "user_id")
        .filter(
            (F.col("valid_from_ms") <= F.col("probe_ms"))
            & (
                F.col("valid_to_ms").isNull()
                | (F.col("probe_ms") < F.col("valid_to_ms"))
            )
        )
        .select("user_id", "probe_ms", "version_event_id", "value")
    )
