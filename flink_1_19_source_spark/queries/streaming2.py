"""Second wave of streaming coverage: retract-stream chaining (§1.3/§7.4).

Flink's update/retract changelog lets stateful operators stack — SURVEY
§1.3 and §7.4 declare "a second stateful operator consuming a retract
stream" the engine's biggest semantic gap vs Flink. The queries here close
it with the machinery in ``streaming/retract.py``: Spark's native
update-mode streaming aggregate produces the level-1 upsert stream; a
keyed mirror turns it into a true ``-U/+U`` retract stream
(ChangelogNormalize); and the level-2 aggregate folds those retractions
into a MERGE-backed state table — all set-based inside ``foreachBatch``.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import jdbc as jdbc_mod
from ..streaming import replay, retract, sinks
from .streaming_queries import _events_stream


@register(
    "s_chained_agg_retract",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT cnt, COUNT(*) AS n_users
    FROM per_user
    GROUP BY cnt
    """,
    survey="§7.4-retract X2 X4",
    tags=("streaming",),
)
def s_chained_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained streaming aggregation over a RETRACT stream — Flink's

        SELECT cnt, COUNT(*) AS n_users
        FROM (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id)
        GROUP BY cnt

    where every level-1 update retracts its user from the old cnt bucket
    (−1) and adds it to the new one (+1). Level 1 is Spark's NATIVE
    update-mode streaming aggregate over the replayed event stream (real
    checkpointed state, per-batch changed-key output). foreachBatch then:

    1. joins the batch against a keyed mirror of previously emitted
       (user_id, cnt) rows to synthesize the full ``-U/+U`` changelog
       (ChangelogNormalize — ``retract.synthesize_retractions``);
    2. folds the changelog into net per-cnt deltas and MERGEs them into
       the level-2 state table, deleting buckets that reach zero
       (``retract.DeltaAggState``);
    3. MERGEs the batch into the mirror (last writer wins per user);
    4. records the batch id in a ledger so failure-replays of a batch are
       no-ops — delta folding is not idempotent, so the ledger, not the
       MERGE, carries the exactly-once effect (X4).

    Convergence is chunk-count-invariant: each micro-batch applies exact
    ±1 deltas, so after the availableNow drain the level-2 table equals
    the batch two-level aggregate for ANY replay chunking — which is the
    DuckDB oracle above. Everything is set-based (two small joins + one
    agg + one MERGE per batch, sized by batch churn, never history)."""
    sdf, wd = _events_stream(spark, sf_dir, "s_chained_agg")
    level1 = sdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    url = jdbc_mod.derby_url(os.path.join(wd, "derby"))
    mirror = jdbc_mod.JdbcTableSource(url, "L1_MIRROR")
    l2 = retract.DeltaAggState(
        # VARCHAR pin: Spark's Derby dialect maps StringType → CLOB, which
        # MERGE cannot compare against a literal
        jdbc_mod.JdbcTableSource(
            url, "L2_CNT_HIST", column_types={"_rowkind": "VARCHAR(8)"}
        ),
        "cnt",
        "n_users",
    )
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "L2_LEDGER"))
    mirror.ensure_table(
        spark.createDataFrame([], "user_id long, cnt long"), overwrite=True
    )
    l2.init(spark)
    ledger.init(spark)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.seen(spark, batch_id):
            return  # failure-replayed batch: deltas already folded
        batch_df = batch_df.persist()
        try:
            changelog = retract.synthesize_retractions(
                batch_df, mirror.scan(spark), ["user_id"], ["cnt"]
            )
            l2.apply(changelog)
            mirror.upsert(batch_df.select("user_id", "cnt"), pk_cols=["user_id"])
            ledger.mark(spark, batch_id)
        finally:
            batch_df.unpersist()

    plan = sinks.plan_sink("chained_agg")  # update + keyed_merge (§7.4)
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        level1, fold, checkpoint_dir=ckpt, output_mode=plan.output_mode
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        l2.snapshot(spark)
        .where(F.col("n_users") > 0)
        .select("cnt", "n_users")
    )


@register(
    "s_statement_set_stream",
    oracle="""
    SELECT 'purchases' AS sink, event_id, user_id, ROUND(value, 6) AS value
    FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT 'high_value' AS sink, event_id, user_id, ROUND(value, 6) AS value
    FROM events WHERE value >= 150
    """,
    survey="S12 X4 R6",
    tags=("streaming",),
)
def s_statement_set_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming STATEMENT SET: one source stream, two INSERTs, executed
    as a single job — per micro-batch the shared batch frame is persisted
    once and both sinks write from it (Flink's multi-INSERT statement set
    over the same Kafka source). Exactly-once comes from the checkpointed
    replay: a re-run of a batch overwrites its own epoch directories
    (idempotent per-batch paths), never double-appends. The read-back is
    tagged + unioned so the oracle certifies BOTH sinks' content."""
    wd = os.path.join(
        "/tmp/sgraft_streams",
        os.path.basename(sf_dir.rstrip("/")),
        "s_stmt_set",
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    p_purch = os.path.join(wd, f"purchases-{run}")
    p_high = os.path.join(wd, f"high-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf, _ = _events_stream(spark, sf_dir, "s_stmt_set_src")

    def fan_out(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            # idempotent epoch paths: a crash-replayed batch rewrites its
            # own directory instead of appending a duplicate
            batch.filter(F.col("event_type") == "purchase").select(
                "event_id", "user_id", "value"
            ).write.mode("overwrite").parquet(
                os.path.join(p_purch, f"epoch={batch_id:05d}")
            )
            batch.filter(F.col("value") >= 150).select(
                "event_id", "user_id", "value"
            ).write.mode("overwrite").parquet(
                os.path.join(p_high, f"epoch={batch_id:05d}")
            )
        finally:
            batch.unpersist()

    replay.run_foreach_batch(sdf, fan_out, checkpoint_dir=ckpt)

    r1 = spark.read.parquet(p_purch).select(
        F.lit("purchases").alias("sink"),
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
    )
    r2 = spark.read.parquet(p_high).select(
        F.lit("high_value").alias("sink"),
        "event_id",
        "user_id",
        F.round("value", 6).alias("value"),
    )
    out = r1.unionByName(r2).localCheckpoint(eager=True)
    shutil.rmtree(p_purch, ignore_errors=True)
    shutil.rmtree(p_high, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "x7b_broadcast_rules_update_stream",
    oracle="""
    WITH mid AS (SELECT MAX(event_id) // 2 AS m FROM events),
    h1 AS (SELECT * FROM events, mid WHERE event_id <= m),
    h2 AS (SELECT * FROM events, mid WHERE event_id > m)
    SELECT 1 AS rules_version, CAST(user_id % 5 AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM h1 GROUP BY user_id % 5
    UNION ALL
    SELECT 2 AS rules_version, CAST((user_id + 2) % 5 AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM h2 GROUP BY (user_id + 2) % 5
    """,
    survey="X7 X4",
    tags=("streaming",),
)
def x7b_broadcast_rules_update_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast state UPDATED BY THE CONTROL STREAM mid-flight — the
    full Flink X7 contract (s_broadcast_state_join covers the static
    snapshot): the first half of the stream is processed under rules v1,
    then the control side publishes rules v2 and the remaining events
    are enriched under the NEW rules, all through ONE checkpointed query
    resumed across the rule change. Spark shape: the stream-static
    join's static side is re-read every micro-batch, so republishing the
    rules table between drains IS the control-stream update; the output
    carries the rules version that actually enriched each row, which the
    oracle pins per half."""
    wd = os.path.join(
        "/tmp/sgraft_streams", os.path.basename(sf_dir.rstrip("/")), "x7b"
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    src = os.path.join(wd, f"src-{run}")
    rules = os.path.join(wd, f"rules-{run}")
    out = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    os.makedirs(src, exist_ok=True)

    from ..tables import load_table

    e = load_table(spark, sf_dir, "events")
    mid = e.agg(F.expr("max(event_id) div 2").alias("m")).first().m

    def publish_rules(version: int, offset: int) -> None:
        users = e.select("user_id").distinct()
        users.select(
            "user_id",
            F.lit(version).alias("rules_version"),
            ((F.col("user_id") + offset) % 5).alias("segment"),
        ).write.mode("overwrite").parquet(rules)

    def publish_events(half_df, name: str) -> None:
        tmp = os.path.join(wd, f"stage-{run}-{name}")
        half_df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(tmp, part), os.path.join(src, f"{name}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)

    def drain() -> None:
        sdf = spark.readStream.schema(e.schema).parquet(src)

        def fn(batch, bid):
            r = spark.read.parquet(rules)
            (
                batch.join(F.broadcast(r), "user_id")
                .groupBy("rules_version", "segment")
                .agg(F.count(F.lit(1)).alias("n"))
                .write.mode("overwrite")
                .parquet(os.path.join(out, f"epoch={bid:05d}"))
            )

        replay.run_foreach_batch(sdf, fn, checkpoint_dir=ckpt)

    publish_rules(1, 0)
    publish_events(e.filter(F.col("event_id") <= mid), "h1")
    drain()
    publish_rules(2, 2)  # the control stream updates the broadcast state
    publish_events(e.filter(F.col("event_id") > mid), "h2")
    drain()

    res = (
        spark.read.parquet(out)
        .groupBy("rules_version", F.col("segment").cast("long").alias("segment"))
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=True)
    )
    for p in (src, rules, out, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    return res


@register(
    "s_crash_resume_exactly_once",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS total
    FROM events GROUP BY event_type
    """,
    survey="X4",
    tags=("streaming",),
)
def s_crash_resume_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end exactly-once under a REAL injected failure (X4): the
    sink crashes mid-write on its second micro-batch, leaving a TORN
    epoch directory (a partial, wrong prefix of the batch); the query is
    restarted on the same checkpoint, Spark replays the failed batch,
    the idempotent epoch sink overwrites the torn directory completely,
    and the remaining batches drain. The final aggregate must equal the
    batch answer exactly — no loss, no duplication, the torn write
    invisible. This is the checkpoint/replay/idempotent-sink triangle
    every exactly-once claim reduces to."""
    wd = os.path.join(
        "/tmp/sgraft_streams", os.path.basename(sf_dir.rstrip("/")), "s_xonce"
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    out = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=4,
        files_per_trigger=1,
    )
    crash = replay.CrashPlan(1)

    def fn(batch, bid: int) -> None:
        target = os.path.join(out, f"epoch={bid:05d}")
        if crash.fire(bid):
            # torn write: a partial prefix lands, then the "process" dies
            batch.limit(50).select("event_id", "event_type", "value").write.mode(
                "overwrite"
            ).parquet(target)
            raise RuntimeError("injected crash after partial write")
        batch.select("event_id", "event_type", "value").write.mode(
            "overwrite"
        ).parquet(target)

    # the restart runs on the SAME checkpoint: batch 1 replays, torn dir healed
    replay.run_foreach_batch(sdf, fn, checkpoint_dir=ckpt, crash=crash)

    res = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return res


@register(
    "s_restart_schema_evolution",
    oracle="""
    WITH b AS (
      SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS mid FROM events
    ), delivered AS (
      -- the post-upgrade source only carries the migrated user cohort
      -- (user_id % 3 <> 0), so a third of the users keep their
      -- pre-upgrade state — the NULL-quality branch is real, not vacuous
      SELECT * FROM events
      WHERE epoch_us(ts) <= (SELECT mid FROM b) OR user_id % 3 <> 0
    ), ranked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) > (SELECT mid FROM b)
                  THEN event_id % 97 END AS quality,
             ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM delivered
    )
    SELECT user_id, event_id AS last_event_id,
           CAST(quality AS BIGINT) AS quality
    FROM ranked WHERE rn = 1
    """,
    survey="X4 X2 O7-S",
    tags=("streaming",),
)
def s_restart_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful restart under SCHEMA EVOLUTION (X4, the savepoint-upgrade
    scenario): a keep-last-per-user stream runs to completion on schema
    v1, the job is stopped, the source gains a ``quality`` column, and
    the job RESTARTS on the SAME checkpoint and the SAME keyed sink
    state.  The file source's checkpoint skips the already-processed v1
    files; the MERGE sink widens its state in place
    (``unionByName(allowMissingColumns)`` + ``mergeSchema`` snapshot), so
    users last seen before the upgrade carry NULL quality and users
    touched after carry the real value — exactly Flink's state-schema
    evolution contract for a savepoint upgrade.  The oracle is the batch
    keep-last with the same epoch-split quality derivation.  (Keep-last
    itself is the contract of ``streaming.topn.streaming_keep_last``.)"""
    from ..tables import load_table

    wd = os.path.join(
        "/tmp/sgraft_streams", os.path.basename(sf_dir.rstrip("/")), "s_schemaevo"
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    src = os.path.join(wd, f"src-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    state = os.path.join(wd, f"merge-{run}")
    os.makedirs(src, exist_ok=True)

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    bounds = e.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("long")
        .alias("mid")
    ).first()
    mid = int(bounds.mid)

    def publish(df, names: list[str]) -> None:
        # K ts-ordered chunk files with increasing mtimes so the file
        # source replays them in event-time order (same as replay.py)
        rows = df.orderBy("ts", "event_id")
        n = rows.count()
        per = (n + len(names) - 1) // len(names)
        tmp = os.path.join(wd, f"stage-{run}")
        rows.coalesce(1).write.mode("overwrite").parquet(tmp)
        import pyarrow.parquet as pq

        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        t = pq.read_table(os.path.join(tmp, part))
        # Spark writes INT96 timestamps (read back by pyarrow as ns-NTZ);
        # normalize to µs-UTC so the file stream reads plain TimestampType
        # — same normalization as replay.split_into_chunks
        import pyarrow as pa

        idx = t.schema.get_field_index("ts")
        t = t.set_column(
            idx,
            "ts",
            t.column("ts")
            .cast(pa.timestamp("us"), safe=False)
            .cast(pa.timestamp("us", tz="UTC")),
        )
        for i, name in enumerate(names):
            sl = t.slice(i * per, per)
            if sl.num_rows:
                path = os.path.join(src, name)
                pq.write_table(sl, path)
                seq = int(name.split("-")[1].split(".")[0])
                os.utime(path, (1_700_000_000 + seq, 1_700_000_000 + seq))
        shutil.rmtree(tmp, ignore_errors=True)

    sink = sinks.ParquetMergeSink(
        spark, state, pk_cols=["user_id"], order_cols=["ts", "event_id"]
    )

    def drain(schema) -> None:
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        replay.run_foreach_batch(sdf, sink, checkpoint_dir=ckpt)

    # phase 1: schema v1 (no quality), first event-time half
    v1 = e.filter(F.unix_micros("ts") <= mid)
    publish(v1, ["chunk-0000.parquet", "chunk-0001.parquet"])
    drain(e.schema)

    # upgrade: source gains a quality column; restart on the SAME
    # checkpoint + sink state with the WIDER schema
    # only the migrated cohort flows after the upgrade: users with
    # user_id % 3 == 0 never get post-upgrade rows, so their pre-upgrade
    # state must survive in place with NULL quality
    v2 = e.filter(
        (F.unix_micros("ts") > mid) & (F.col("user_id") % 3 != 0)
    ).withColumn("quality", (F.col("event_id") % 97).cast("long"))
    publish(v2, ["chunk-0002.parquet", "chunk-0003.parquet"])
    drain(v2.schema)

    out = (
        sink.snapshot_df()
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("quality").cast("long").alias("quality"),
        )
        .localCheckpoint(eager=True)
    )
    for p in (src, ckpt, state):
        shutil.rmtree(p, ignore_errors=True)
    return out
