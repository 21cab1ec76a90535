"""Kafka-shaped source/sink coverage (SURVEY §2.1 S6, §2.9 X1-idleness).

The broker-less S6 gap closed the honest way: `sources/kafka_like.FileTopic`
implements the Kafka *contract* (keyed partitioning, per-partition monotone
offsets, the exact wire schema, offset-range bounded reads, segment-ordered
streaming consumption) on files, and these queries drive it end to end —
produce → consume → decode → aggregate — with full DuckDB oracles.

The oracle trick: queries pass an SQL-expressible partitioner
(``user_id % 4`` — documented stand-in for the default hash partitioner)
and a total within-partition order (ts, event_id), so partition assignment,
offset sequences AND the JSON payload round-trip are all value-hash-checked.

``s_kafka_idle_partition`` is the X1 idleness showcase: one partition stops
producing halfway through the stream; the per-partition min-combine
watermark (streaming/partition_watermark.py) would freeze at that
partition's last event — the event-time idleness gap expels it from the
min, letting every window close. The oracle encodes the active-set rule
directly in SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from ..sources.kafka_like import FileTopic, decode_json_value
from ..streaming.partition_watermark import PartitionWatermarkTracker
from ..tables import load_table
from .streaming_queries import _events_stream, _work_dir

_PAYLOAD = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

_P = 4  # topic partitions


def _events_topic(
    spark: SparkSession, sf_dir: str, name: str, epochs: int = 1,
    exclude=None,
) -> FileTopic:
    """Idempotently produce the events table into a file topic (partition =
    user_id % 4, within-partition order (ts, event_id)); ``epochs`` time-
    slices the produce into that many segment generations so a streaming
    consume replays multiple micro-batches."""
    wd = _work_dir(sf_dir, name)
    t = FileTopic(wd, "events_topic", num_partitions=_P)
    if os.path.isdir(t.dir) and os.listdir(t.dir):
        return t  # produced on a previous run — offsets must not re-append
    e = load_table(spark, sf_dir, "events")
    if exclude is not None:
        e = e.filter(~exclude(e))
    part = F.pmod(F.col("user_id"), F.lit(_P)).cast("int")
    if epochs == 1:
        t.produce(e, "user_id", ["event_id", "event_type", "value"], "ts",
                  epoch=0, partition_expr=part, order_cols=["ts", "event_id"])
        return t
    # time-sliced epochs: NTILE over the same total order that fixes
    # offsets, so offsets stay monotone with epoch generation — computed
    # as the house range-partitioned rank plus the closed-form NTILE
    # bucket formula instead of an unpartitioned window (which would
    # plan Exchange SinglePartition and sort all events in one task);
    # (ts, event_id) is unique so the dense rank IS the row number
    from ..operators.suffix_array import dense_rank_distributed

    n = e.count()
    q, r = divmod(n, epochs)
    rn = F.col("__rn")
    sliced = dense_rank_distributed(e, ["ts", "event_id"], "__rn").withColumn(
        "__epoch",
        F.when(rn <= r * (q + 1), F.ceil(rn / (q + 1)))
        .otherwise(r + F.ceil((rn - r * (q + 1)) / F.lit(q)))
        .cast("int"),
    ).drop("__rn")
    # Materialize the ranked slice ONCE: the per-epoch produce loop below
    # filters this frame `epochs` times, and without the checkpoint each
    # filter re-executes the whole dense-rank subtree (count + distinct +
    # range exchange + join-back) — the r12 kafka regression.  The
    # materialization is events-row-sized (key + payload columns only)
    # and lives inside this one topic build, never across runs.
    sliced = sliced.localCheckpoint(eager=True)
    for ep in range(1, epochs + 1):
        t.produce(
            sliced.filter(F.col("__epoch") == ep).drop("__epoch"),
            "user_id", ["event_id", "event_type", "value"], "ts",
            epoch=ep - 1, partition_expr=part, order_cols=["ts", "event_id"],
        )
    return t


_ROUNDTRIP_DECODE = """
      SELECT CAST(user_id % 4 AS INTEGER) AS partition,
             ROW_NUMBER() OVER (PARTITION BY user_id % 4
                                ORDER BY ts, event_id) - 1 AS "offset",
             user_id, event_id, event_type, value, ts
      FROM events
"""


@register(
    "src_kafka_roundtrip",
    oracle=f"""
    WITH log AS ({_ROUNDTRIP_DECODE})
    SELECT partition, "offset", user_id, event_id, event_type, value, ts
    FROM log
    """,
    survey="S6",
)
def src_kafka_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Produce→consume round-trip through the file topic: the oracle
    recomputes partition assignment (user_id % 4), the per-partition
    offset sequence and the JSON payload — so the whole produce path
    (keyed partitioning, monotone offsets, value encoding) is
    value-hash-certified, not just row-counted."""
    t = _events_topic(spark, sf_dir, "src_kafka_roundtrip")
    raw = t.read_batch(spark)
    return decode_json_value(raw, _PAYLOAD).select(
        "partition",
        "offset",
        F.col("key").cast("long").alias("user_id"),
        "event_id",
        "event_type",
        "value",
        F.col("timestamp").alias("ts"),
    )


@register(
    "src_kafka_offset_scan",
    oracle=f"""
    WITH log AS ({_ROUNDTRIP_DECODE})
    SELECT partition, "offset", event_id, event_type, value
    FROM log WHERE "offset" >= 10 AND "offset" < 60
    """,
    survey="S6",
)
def src_kafka_offset_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded consume with per-partition offset ranges (Kafka's
    startingOffsets/endingOffsets): offsets [10, 60) of every partition.
    The range predicates are plain (partition, offset) comparisons that
    push into the parquet scan — row-group pruning standing in for the
    broker's offset index."""
    t = _events_topic(spark, sf_dir, "src_kafka_roundtrip")
    raw = t.read_batch(
        spark,
        starting_offsets={k: 10 for k in range(_P)},
        ending_offsets={k: 60 for k in range(_P)},
    )
    return decode_json_value(raw, _PAYLOAD).select(
        "partition", "offset", "event_id", "event_type", "value"
    )


@register(
    "s_kafka_tumble_stream",
    oracle="""
    WITH closed AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total
    FROM events
    GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             <= (SELECT wm FROM closed)
    """,
    survey="S6 W1-S X1",
    tags=("streaming",),
)
def s_kafka_tumble_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming consume from the file topic (4 segment epochs, 2 per
    trigger), JSON-decode, tumbling 1 h aggregation in append mode — the
    standard Kafka→window pipeline, emitting exactly the windows the
    final watermark closed."""
    import shutil
    import uuid

    from ..streaming import replay

    t = _events_topic(spark, sf_dir, "s_kafka_tumble", epochs=4)
    raw = t.read_stream(spark, files_per_trigger=2 * _P)  # 2 epochs/trigger
    decoded = decode_json_value(raw, _PAYLOAD)
    agg = (
        decoded.withWatermark("timestamp", "10 minutes")
        .groupBy(F.window("timestamp", "1 hour").alias("w"), "event_type")
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
    wd = _work_dir(sf_dir, "s_kafka_tumble")
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_available_now(agg, "s_kafka_tumble_q", "append", ckpt)
    out = spark.table("s_kafka_tumble_q")
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "s_upsert_kafka_compacted",
    oracle="""
    SELECT user_id, event_id FROM (
      SELECT user_id, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND event_id % 7 <> 0
    """,
    survey="S7 O7-S X6",
    tags=("streaming",),
)
def s_upsert_kafka_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """upsert-kafka (S7), both halves: the keyed keep-last update stream is
    PRODUCED into a compacted file topic per micro-batch — keys whose
    latest event_id is divisible by 7 emit a NULL-value tombstone (the
    deterministic stand-in for a business delete) — and the topic is then
    CONSUMED through log compaction: latest offset per key wins,
    tombstones drop the key. This is Flink's upsert-kafka contract end to
    end: changelog → keyed topic → compacted materialized view."""
    import shutil
    import uuid

    from ..streaming import replay, topn

    sdf, wd = _events_stream(spark, sf_dir, "s_upsert_kafka")
    run_root = os.path.join(wd, f"topic-{uuid.uuid4().hex[:8]}")
    t = FileTopic(run_root, "user_latest", num_partitions=_P)

    def produce_batch(batch_df: DataFrame, batch_id: int) -> None:
        t.produce(
            batch_df,
            "user_id",
            ["event_id", "value"],
            "ts",
            epoch=batch_id,
            partition_expr=F.pmod(F.col("user_id"), F.lit(_P)).cast("int"),
            order_cols=["ts", "event_id"],
            tombstone=F.col("event_id") % 7 == 0,
        )

    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(
        topn.streaming_keep_last(sdf), produce_batch,
        checkpoint_dir=ckpt, output_mode="update",
    )
    from ..sources.kafka_like import decode_json_value as _dec
    from pyspark.sql.types import StructField as _SF, StructType as _ST

    out = (
        _dec(t.read_compacted(spark),
             _ST([_SF("event_id", LongType()), _SF("value", DoubleType())]))
        .select(F.col("key").cast("long").alias("user_id"), "event_id")
        .localCheckpoint()
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(run_root, ignore_errors=True)
    return out


@register(
    "s_kafka_idle_partition",
    oracle="""
    WITH bounds AS (
      SELECT MIN(ts) AS lo,
             CAST(FLOOR(date_diff('second', MIN(ts), MAX(ts)) / 2) AS BIGINT)
               AS half_s,
             CAST(FLOOR(date_diff('second', MIN(ts), MAX(ts)) / 4) AS BIGINT)
               AS gap_s
      FROM events
    ), src AS (
      SELECT e.* , CAST(user_id % 4 AS INTEGER) AS partition
      FROM events e, bounds b
      WHERE NOT (user_id % 4 = 3 AND ts >= b.lo + to_seconds(b.half_s))
    ), pm AS (
      SELECT partition, MAX(ts) AS pmax FROM src GROUP BY partition
    ), wm AS (
      SELECT MIN(pmax) - INTERVAL 10 MINUTE AS w
      FROM pm, (SELECT MAX(pmax) AS gmax FROM pm) g, bounds b
      WHERE date_diff('second', pmax, gmax) <= b.gap_s
    )
    SELECT event_type,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total
    FROM src
    GROUP BY event_type, time_bucket(INTERVAL '1 hour', ts)
    HAVING time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
             <= (SELECT w FROM wm)
    """,
    survey="S6 X1",
    tags=("streaming",),
)
def s_kafka_idle_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 idleness, observable end to end: partition 3 stops producing at
    the stream's halfway point. The per-partition min-combine watermark
    (Flink's propagation rule) would freeze at partition 3's last event
    and close only the first half's windows; the event-time idleness gap
    (range/4 — the deterministic analogue of Flink's wall-clock
    withIdleness) expels the stalled partition from the min, so the
    combined watermark advances with the live partitions and every
    closable window emits. The oracle recomputes the active-set rule in
    SQL; a unit test asserts the no-idleness tracker really would have
    frozen (the two configurations provably differ)."""
    import datetime as dt
    import shutil
    import uuid

    from ..streaming import replay

    # deterministic halfway cutoff / idleness gap in whole seconds
    lo, hi = (
        load_table(spark, sf_dir, "events")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .first()
    )
    half = dt.timedelta(seconds=int((hi - lo).total_seconds() // 2))
    gap = dt.timedelta(seconds=int((hi - lo).total_seconds() // 4))
    cutoff = lo + half

    t = _events_topic(
        spark, sf_dir, "s_kafka_idle", epochs=4,
        exclude=lambda e: (F.pmod(F.col("user_id"), F.lit(_P)) == 3)
        & (F.col("ts") >= F.lit(cutoff)),
    )
    raw = t.read_stream(spark, files_per_trigger=2 * _P)
    tracker = PartitionWatermarkTracker(
        delay=dt.timedelta(minutes=10), idle_gap=gap
    )
    wd = _work_dir(sf_dir, "s_kafka_idle")
    out_dir = os.path.join(wd, f"out-{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        tracker.observe(batch_df)  # P-row aggregate; rows stay distributed
        batch_df.write.mode("append").parquet(out_dir)

    replay.run_foreach_batch(raw, sink, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)

    wm = tracker.combined()
    consumed = decode_json_value(spark.read.parquet(out_dir), _PAYLOAD)
    result = (
        consumed.groupBy(
            F.window("timestamp", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(27,6)")).alias("tdec"),
        )
        .filter(F.col("w.end") <= F.lit(wm))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n",
            F.round(F.col("tdec").cast("double"), 6).alias("total"),
        )
        # materialize before deleting out_dir (each run writes a fresh
        # uuid dir — leaving them would accumulate a stream copy per run)
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return result


@register(
    "s_kafka_aligned_read",
    oracle="""
    WITH decoded AS (
      SELECT event_type, ts, value FROM events
    )
    SELECT event_type,
           time_bucket(INTERVAL '1 day', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 6) AS total
    FROM decoded
    GROUP BY event_type, time_bucket(INTERVAL '1 day', ts)
    """,
    survey="X1 S6",
)
def s_kafka_aligned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark ALIGNMENT (Flink 1.17+ FLIP-182/217, the X1 feature
    beyond idleness): heterogeneous fetch sizes let partitions 0/1 race
    ahead in event time; the aligned poll loop
    (streaming/partition_watermark.aligned_consume) pauses any partition
    whose watermark exceeds the slowest unfinished partition's by more
    than 10 minutes. That pausing ENGAGED is asserted (paused_rounds >=
    1), the no-read-beyond-bound rule is structural, and completeness is
    the oracle: every produced record must still be consumed exactly
    once, aligned or not — the windowed aggregate over the consumed log
    hash-matches the batch answer."""
    t = _events_topic(spark, sf_dir, "s_kafka_aligned")
    end = t.end_offsets(spark)
    # fast consumers on partitions 0/1 (big fetch), slow on 2/3
    steps = {p: max(1, end[p] // (4 if p < 2 else 16)) for p in end}
    from ..streaming.partition_watermark_aligned import aligned_consume

    consumed, stats = aligned_consume(
        spark, t, max_drift_ms=600_000, step_offsets=steps
    )
    if stats["paused_rounds"] < 1:
        raise AssertionError(f"alignment never paused a partition: {stats}")
    decoded = decode_json_value(consumed, _PAYLOAD)
    return (
        decoded.groupBy(
            "event_type", F.window("timestamp", "1 day").start.alias("window_start")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("total"),
        )
    )


@register(
    "s_cdc_debezium_stream",
    oracle="""
    WITH oped AS (
      SELECT user_id, event_id, value, CAST(epoch_ms(ts) AS BIGINT) AS ms,
             CASE WHEN event_type = 'signup' THEN 'c'
                  WHEN event_type = 'error' THEN 'd'
                  ELSE 'u' END AS op
      FROM events
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ms DESC, event_id DESC) AS rn
      FROM oped
    )
    SELECT user_id, event_id, ROUND(value, 6) AS value
    FROM latest WHERE rn = 1 AND op <> 'd'
    """,
    survey="X6 S4 X4",
    tags=("streaming",),
)
def s_cdc_debezium_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING debezium-json ingestion end-to-end: every micro-batch
    renders real Debezium envelopes, parses them with the typed schema
    (the S4 format decoder), folds the batch changelog to latest-op-per-
    key and applies it through the bucket-pruned CoW merge sink — the
    full Kafka→debezium→MERGE pipeline Flink users run. Cross-batch
    last-writer-wins equals the batch fold because the ts-ordered replay
    matches the oracle's (ms, event_id) tiebreak."""
    import shutil
    import uuid

    from ..streaming import sinks as _sinks
    from .streaming_queries import _work_dir
    from ..streaming import replay as _replay
    from pyspark.sql.window import Window

    wd = _work_dir(sf_dir, "s_cdc_dbz")
    sdf = _replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=4,
        order_by=["ts", "event_id"], files_per_trigger=2,
    )
    row = F.struct(F.col("user_id"), F.col("event_id"), F.col("value"))
    op = (
        F.when(F.col("event_type") == "signup", "c")
        .when(F.col("event_type") == "error", "d")
        .otherwise("u")
    )
    envelopes = sdf.select(
        F.to_json(
            F.struct(
                F.when(op != "c", row).alias("before"),
                F.when(op != "d", row).alias("after"),
                op.alias("op"),
                F.unix_millis("ts").alias("ts_ms"),
            )
        ).alias("env")
    )
    schema = (
        "before struct<user_id: bigint, event_id: bigint, value: double>,"
        " after struct<user_id: bigint, event_id: bigint, value: double>,"
        " op string, ts_ms bigint"
    )
    parsed = envelopes.select(F.from_json("env", schema).alias("m")).select(
        F.coalesce(F.col("m.after.user_id"), F.col("m.before.user_id")).alias(
            "user_id"
        ),
        F.coalesce(F.col("m.after.event_id"), F.col("m.before.event_id")).alias(
            "event_id"
        ),
        F.col("m.after.value").alias("value"),
        F.col("m.op").alias("op"),
        F.col("m.ts_ms").alias("ms"),
    )

    state = os.path.join(wd, f"merge-{uuid.uuid4().hex[:8]}")
    sink = _sinks.ParquetMergeSink(
        spark,
        state,
        pk_cols=["user_id"],
        op_col="_rowkind",
        order_cols=["ms", "event_id"],
    )

    def apply(batch: DataFrame, bid: int) -> None:
        rn = F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ms").desc(), F.col("event_id").desc()
            )
        )
        folded = batch.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
        changelog = folded.withColumn(
            "_rowkind", F.when(F.col("op") == "d", "-D").otherwise("+U")
        ).drop("op")
        sink(changelog, bid)

    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    _replay.run_foreach_batch(parsed, apply, checkpoint_dir=ckpt)
    out = (
        sink.snapshot_df()
        .select("user_id", "event_id", F.round("value", 6).alias("value"))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    return out
