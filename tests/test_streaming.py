"""Streaming convergence tests (SURVEY §5.2): each streaming operator,
replayed deterministically over the events table (time-ordered chunk
files, availableNow trigger), must converge to its batch twin's answer.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_1_19_source_spark.streaming import ops, replay, sinks, topn
from flink_1_19_source_spark.tables import load_table


@pytest.fixture(scope="module")
def work_dir():
    d = tempfile.mkdtemp(prefix="sgraft_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def events_stream_src(spark, sf_dir, work_dir):
    """Chunked replay source for events (time-ordered, 8 micro-batches)."""
    sdf = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=8)
    return sdf


def _drain(spark, sdf, name, mode, work_dir):
    replay.run_available_now(
        sdf, name, output_mode=mode, checkpoint_dir=f"{work_dir}/ckpt_{name}"
    )
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumble_converges_to_batch(spark, sf_dir, events_stream_src, work_dir):
    got = _drain(
        spark,
        ops.tumble_agg(events_stream_src, "ts", "1 hour", ["event_type"]),
        "s_tumble",
        "append",
        work_dir,
    )
    _assert_tumble_matches_batch(spark, sf_dir, got)


def _assert_tumble_matches_batch(spark, sf_dir, got):
    """``got``, a drained 1-hour tumble per event_type (10 minute delay),
    equals its batch twin on every closed window."""
    import datetime

    e = load_table(spark, sf_dir, "events")
    # append mode emits a window only once the watermark passes its end:
    # the final watermark is max(ts) - delay, so compare the closed set
    wm = e.agg(F.max("ts")).collect()[0][0]
    closed = wm - datetime.timedelta(minutes=10)
    batch = (
        e.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("total"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "total",
        )
        .filter(F.col("window_end") <= F.lit(closed))
    )
    cols = ["event_type", "window_start", "window_end", "n", "total"]
    got = got.filter(F.col("window_end") <= F.lit(closed))
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(batch, cols)) > 100


def test_stream_session_converges_to_batch(spark, sf_dir, events_stream_src, work_dir):
    got = _drain(
        spark,
        ops.session_agg(events_stream_src, "ts", "5 minutes", ["user_id"]),
        "s_session",
        "append",
        work_dir,
    )
    e = load_table(spark, sf_dir, "events")
    wm = e.agg(F.max("ts")).collect()[0][0]
    import datetime
    closed = wm - datetime.timedelta(minutes=10)
    batch = (
        e.groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
        )
        .filter(F.col("window_end") <= F.lit(closed))
    )
    cols = ["user_id", "window_start", "window_end", "n"]
    got = got.filter(F.col("window_end") <= F.lit(closed))
    assert _rows(got, cols) == _rows(batch, cols)
    assert len(_rows(batch, cols)) > 100


def test_stream_dedup_keep_first(spark, sf_dir, events_stream_src, work_dir):
    """Keep-first dedup per (event_type, hour): dropDuplicatesWithinWatermark
    keeps state for at least the watermark delay, so with delay (2h) longer
    than the key's time span (1h bucket) and a ts-ordered replay, the kept
    row per key is exactly the batch ts-min row."""
    keyed = events_stream_src.withColumn("hour", F.date_trunc("hour", "ts"))
    got = _drain(
        spark,
        ops.dedup_keep_first(keyed, ["event_type", "hour"], "ts", delay="2 hours"),
        "s_dedup",
        "append",
        work_dir,
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got_keys = {(r.event_type, r.hour, r.event_id) for r in got.collect()}
    batch_keys = {(r.event_type, r.hour, r.event_id) for r in batch.collect()}
    assert got_keys == batch_keys


def test_stream_interval_self_join(spark, sf_dir, work_dir):
    """Stream-stream interval join: each signup joined to the same user's
    events within the next 30 minutes — converges to the batch range join."""
    left = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=8).filter(
        F.col("event_type") == "signup"
    )
    right = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=8)
    joined = ops.interval_join(
        left.select(
            F.col("user_id"), F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
        ),
        right.select(
            F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        ).withColumnRenamed("r_user", "user_id"),
        key="user_id",
        left_ts="l_ts",
        right_ts="r_ts",
        lower="0 seconds",
        upper="30 minutes",
    ).select("l_id", "r_id")
    got = _drain(spark, joined, "s_ijoin", "append", work_dir)

    e = load_table(spark, sf_dir, "events")
    l = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("l_ts"), F.col("event_id").alias("l_id")
    )
    r = e.select(
        F.col("user_id").alias("u2"), F.col("ts").alias("r_ts"), F.col("event_id").alias("r_id")
    )
    batch = l.join(
        r,
        (F.col("user_id") == F.col("u2"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 30 minutes")),
    ).select("l_id", "r_id")
    assert _rows(got, ["l_id", "r_id"]) == _rows(batch, ["l_id", "r_id"])


def test_streaming_topn(spark, sf_dir, events_stream_src, work_dir):
    """transformWithStateInPandas Top-3 per event_type: the final snapshot
    per key must equal the batch row_number()<=3 answer."""
    got = _drain(
        spark, topn.streaming_topn(events_stream_src, n=3), "s_topn", "update", work_dir
    )
    # memory sink in update mode appends every refresh: take the LAST
    # emitted snapshot per (event_type, rank)
    latest = {}
    for i, r in enumerate(got.collect()):
        latest[(r.event_type, r.rank)] = (i, r.event_id, r.value)
    got_final = {k: (eid, val) for k, (_, eid, val) in latest.items()}

    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), "event_id")
    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )
    batch_final = {
        (r.event_type, r.rank): (r.event_id, r.value) for r in batch.collect()
    }
    assert got_final == batch_final


def test_streaming_keep_last(spark, sf_dir, events_stream_src, work_dir):
    got = _drain(
        spark, topn.streaming_keep_last(events_stream_src), "s_keeplast", "update", work_dir
    )
    latest = {}
    for i, r in enumerate(got.collect()):
        latest[r.user_id] = r.event_id
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    batch_last = {r.user_id: r.event_id for r in batch.collect()}
    assert latest == batch_last


def test_upsert_sink_merges_by_pk(spark, sf_dir, events_stream_src, work_dir):
    """foreachBatch upsert sink: final materialized view has one row per
    user_id = the last arrival (replay is ts-ordered)."""
    sink = sinks.UpsertSink(pk_cols=["user_id"])
    replay.run_foreach_batch(
        events_stream_src.select("user_id", "event_id", "ts"),
        sink,
        checkpoint_dir=f"{work_dir}/ckpt_upsert",
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    got = {r["user_id"]: r["event_id"] for r in sink.snapshot()}
    # foreachBatch batches preserve chunk order; within a batch collect()
    # order follows file order (ts-sorted) — last writer per key wins
    want = {r.user_id: r.event_id for r in batch.collect()}
    assert got == want


def test_cdc_interpret_and_apply(spark, sf_dir):
    """CDC ingestion (X6): op column → _rowkind, changelog folded to final
    table state (deletes drop keys, last update wins)."""
    rows = [
        (1, "c", 10, "2024-01-01 00:00:00"),
        (1, "u", 11, "2024-01-01 00:01:00"),
        (2, "c", 20, "2024-01-01 00:00:30"),
        (2, "d", None, "2024-01-01 00:02:00"),
        (3, "r", 30, "2024-01-01 00:00:10"),
    ]
    df = spark.createDataFrame(rows, "id long, op string, val long, ts string").withColumn(
        "ts", F.to_timestamp("ts")
    )
    out = sinks.apply_changelog(sinks.interpret_cdc(df), ["id"], "ts")
    got = {(r.id): r.val for r in out.collect()}
    assert got == {1: 11, 3: 30}


def test_late_data_capture(spark, sf_dir, work_dir):
    """W8 late side output: rows older than max_ts - delay are diverted."""
    cap = ops.LateDataCapture("ts", delay_seconds=300)
    sdf = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=8)
    replay.run_foreach_batch(sdf, cap, checkpoint_dir=f"{work_dir}/ckpt_late")
    total = len(cap.on_time) + len(cap.late)
    assert total == load_table(spark, sf_dir, "events").count()
    # replay is globally ts-sorted → nothing is late
    assert len(cap.late) == 0


def test_checkpoint_recovery_exactly_once(spark, sf_dir, work_dir):
    """X4: stop after half the input, restart from the SAME checkpoint with
    more input — the source must resume where it left off (no reprocessing,
    no loss) and the merged sink must equal the full batch answer."""
    import os
    import shutil

    src_all = f"{work_dir}/ckptrec_all"
    src_live = f"{work_dir}/ckptrec_live"
    ckpt = f"{work_dir}/ckptrec_ckpt"
    replay.split_into_chunks(
        os.path.join(sf_dir, "events.parquet"), src_all, "ts", chunks=8
    )
    os.makedirs(src_live, exist_ok=True)
    files = sorted(os.listdir(src_all))

    schema = spark.read.parquet(src_all).schema
    sink = sinks.UpsertSink(pk_cols=["event_type", "hour"])

    def run_once():
        sdf = replay.read_stream(spark, src_live, schema)
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .withColumn("hour", F.date_trunc("hour", "ts"))
            .groupBy("event_type", "hour")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        replay.run_foreach_batch(agg, sink, checkpoint_dir=ckpt, output_mode="update")

    for f in files[:4]:
        shutil.copy(os.path.join(src_all, f), os.path.join(src_live, f))
    run_once()
    batches_after_first = set(sink.seen_batches)

    for f in files[4:]:
        shutil.copy(os.path.join(src_all, f), os.path.join(src_live, f))
    run_once()

    # restart resumed batch ids after the first run's (no replay of old ids)
    assert min(set(sink.seen_batches) - batches_after_first) > max(batches_after_first)

    batch = (
        load_table(spark, sf_dir, "events")
        .withColumn("hour", F.date_trunc("hour", "ts"))
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    want = {(r.event_type, r.hour): r.n for r in batch.collect()}
    got = {(d["event_type"], d["hour"]): d["n"] for d in sink.snapshot()}
    assert got == want


def test_streaming_cep_matches_batch_spans(spark, sf_dir, work_dir):
    """Streaming NFA (cep_stream) must emit exactly the batch scanner's
    match spans — per-match equality, stronger than the aggregate oracle."""
    from flink_1_19_source_spark.operators import cep
    from flink_1_19_source_spark.streaming import cep_stream

    symbols = {"signup": "A", "click": "B", "view": "B", "purchase": "C"}
    e = load_table(spark, sf_dir, "events")
    batch = cep.match_recognize_lite(
        e, key_col="user_id", ts_col="ts", id_col="event_id",
        symbol=cep.classify(symbols)(F.col("event_type")), pattern="AB+C",
    )
    sdf = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=5)
    stream = cep_stream.streaming_match_recognize(
        sdf, key_col="user_id", ts_col="ts", id_col="event_id",
        symbol=cep.classify(symbols)(F.col("event_type")), pattern="AB+C",
        start_chars="A",
    )
    out = _drain(spark, stream, "cep_span_q", "append", work_dir)
    cols = ["key", "start_id", "end_id", "n_rows", "start_ts", "end_ts"]
    got = _rows(out.withColumnRenamed("key", "key"), cols)
    want = _rows(batch, cols)
    assert got == want


def test_print_and_blackhole_sinks(spark, sf_dir, work_dir):
    """S10: Flink's print / blackhole debug sinks → Spark's console / noop
    writers. Batch noop write and a streaming console drain both run to
    completion (sink contract is config, not code — this pins the config)."""
    part = load_table(spark, sf_dir, "part")
    part.write.format("noop").mode("overwrite").save()

    sdf = replay.replay_table(spark, sf_dir, "events", work_dir, chunks=2)
    q = (
        sdf.limit(5)
        .writeStream.format("console")
        .option("numRows", 1)
        .option("checkpointLocation", f"{work_dir}/ckpt_console")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# -- §7.4 output-mode planner ------------------------------------------------

#: expected plan per SURVEY §7.4 table row: shape → (output_mode, sink kind)
_EXPECTED_PLANS = {
    "stateless": ("append", "direct"),
    "windowed_agg": ("append", "direct"),
    "global_agg": ("update", "keyed_merge"),
    "topn": ("update", "keyed_merge"),
    "dedup_keep_first": ("append", "direct"),
    "dedup_keep_last": ("update", "keyed_merge"),
    "stream_stream_join": ("append", "direct"),
    "over_agg": ("append", "direct"),
    "session_timers": ("append", "direct"),
    "cep_match": ("append", "direct"),
    "count_window": ("append", "direct"),
    "cdc_apply": ("update", "keyed_merge"),
    "late_side_output": ("append", "direct"),
    "chained_agg": ("update", "keyed_merge"),
}


def test_output_mode_planner_covers_every_shape():
    """§7.4 planning table as code: every query shape resolves to a valid
    (Spark output mode, sink kind) pair; one assertion per table row."""
    assert set(sinks.SINK_PLANS) == set(_EXPECTED_PLANS)
    for shape, (mode, kind) in _EXPECTED_PLANS.items():
        plan = sinks.plan_sink(shape)
        assert plan.output_mode == mode, shape
        assert plan.sink == kind, shape
        assert plan.output_mode in ("append", "update", "complete")
        assert sinks.output_mode_for(shape) == mode


def test_jdbc_upsert_applies_changelog_deletes(spark, work_dir):
    """X6 sink half on the REAL path: staging+MERGE with an op column —
    '+I/+U' upsert, '-D' deletes the key — against embedded Derby."""
    from flink_1_19_source_spark.sources import jdbc as jdbc_mod

    tgt = jdbc_mod.JdbcTableSource(
        jdbc_mod.derby_url(f"{work_dir}/derby_cdc_test"),
        "CDC_T",
        column_types={"_rowkind": "VARCHAR(8)"},
    )
    tgt.ensure_table(spark.createDataFrame([], "id long, val double"), overwrite=True)

    b1 = spark.createDataFrame(
        [(1, 1.0, "+I"), (2, 2.0, "+I"), (3, 3.0, "+I")],
        "id long, val double, _rowkind string",
    )
    tgt.upsert(b1, ["id"], op_col="_rowkind")
    # batch 2: update 1, delete 2, delete-then-nothing for absent 9 (no-op)
    b2 = spark.createDataFrame(
        [(1, 10.0, "+U"), (2, None, "-D"), (9, None, "-D")],
        "id long, val double, _rowkind string",
    )
    tgt.upsert(b2, ["id"], op_col="_rowkind")

    got = {r.id: r.val for r in tgt.scan(spark).collect()}
    assert got == {1: 10.0, 3: 3.0}
    # idempotent replay of batch 2 (availableNow retry semantics)
    tgt.upsert(b2, ["id"], op_col="_rowkind")
    assert {r.id: r.val for r in tgt.scan(spark).collect()} == {1: 10.0, 3: 3.0}


def test_parquet_merge_sink_upsert_delete_replay(spark, work_dir):
    """Distributed CoW MERGE sink: upserts replace by pk, '-D' deletes,
    and replaying a committed batch_id is a no-op (exactly-once)."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms")
    sink = sk.ParquetMergeSink(spark, state, pk_cols=["k"], op_col="op")
    b0 = spark.createDataFrame(
        [(1, "a", "+I"), (2, "b", "+I")], "k long, v string, op string"
    )
    sink(b0, 0)
    assert {(r.k, r.v) for r in sink.snapshot_df().collect()} == {(1, "a"), (2, "b")}
    b1 = spark.createDataFrame(
        [(1, "a2", "+U"), (2, None, "-D"), (3, "c", "+I")],
        "k long, v string, op string",
    )
    sink(b1, 1)
    assert {(r.k, r.v) for r in sink.snapshot_df().collect()} == {(1, "a2"), (3, "c")}
    # replay of batch 1 (e.g. post-crash availableNow restart): no-op
    sink(b1, 1)
    assert {(r.k, r.v) for r in sink.snapshot_df().collect()} == {(1, "a2"), (3, "c")}
    # old versions pruned, current + predecessor retained
    vs = sorted(d for d in os.listdir(state) if d.startswith("v"))
    assert vs == ["v0", "v1"]


def test_parquet_merge_sink_folds_batch_to_one_row_per_key(spark, work_dir):
    """A real changelog batch can carry several ops for one key. The sink
    must reduce to the FINAL op per key first (UpsertSink's collect-order
    contract, done distributed): delete-then-reinsert keeps the reinsert;
    multiple upserts keep only the last; insert-then-delete deletes."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms_fold")
    sink = sk.ParquetMergeSink(
        spark, state, pk_cols=["k"], op_col="op", order_cols=["seq"]
    )
    b0 = spark.createDataFrame(
        [
            (1, "old", 0, "+I"), (1, None, 1, "-D"), (1, "reborn", 2, "+I"),
            (2, "v1", 0, "+I"), (2, "v2", 1, "+U"), (2, "v3", 2, "+U"),
            (3, "doomed", 0, "+I"), (3, None, 1, "-D"),
        ],
        "k long, v string, seq long, op string",
    )
    sink(b0, 0)
    got = {(r.k, r.v) for r in sink.snapshot_df().collect()}
    assert got == {(1, "reborn"), (2, "v3")}, got


def test_parquet_merge_sink_incremental_batch_rewrites_only_touched_buckets(
    spark, work_dir
):
    """Scale contract: per-batch cost is O(touched buckets), not O(table).
    A 1-key update batch must write a strict subset of the bucket dirs and
    leave untouched buckets pointing at their old version files."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms_buckets")
    sink = sk.ParquetMergeSink(spark, state, pk_cols=["k"], num_buckets=8)
    b0 = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], "k long, v string"
    )
    sink(b0, 0)
    v0_buckets = {d for d in os.listdir(os.path.join(state, "v0")) if d.startswith("__bucket=")}
    assert len(v0_buckets) == 8  # 64 keys cover all 8 buckets
    sink(spark.createDataFrame([(7, "updated")], "k long, v string"), 1)
    v1_buckets = {d for d in os.listdir(os.path.join(state, "v1")) if d.startswith("__bucket=")}
    assert len(v1_buckets) == 1, v1_buckets  # one key → one bucket rewritten
    got = {r.k: r.v for r in sink.snapshot_df().collect()}
    assert len(got) == 64 and got[7] == "updated" and got[8] == "v8"


def test_proc_time_fire_purge_leftovers_never_emit(spark, work_dir):
    """W7 processing-time trigger: with 3 ticks and every=2, only tick 0-1
    state fires (fire_seq 0); tick 2's partials stay pending and emit
    nothing — Flink's unfired-processing-time-window contract. The fire
    must also combine partials across ticks, and purge must reset state
    so a later fire excludes already-fired rows."""
    from flink_1_19_source_spark.streaming.proc_time_trigger import (
        ProcTimeFirePurge,
    )

    trig = ProcTimeFirePurge(spark, work_dir, ["k"], "v", every=2)
    mk = lambda rows: spark.createDataFrame(rows, "k long, v double")  # noqa: E731
    trig(mk([(1, 1.0), (2, 5.0)]), 0)
    trig(mk([(1, 2.0)]), 1)          # fire 0: k1=3.0 (2 rows), k2=5.0
    trig(mk([(1, 100.0)]), 2)        # pending forever — never fires
    got = {
        (r.k, r.fire_seq): (r.n_events, r.sum_value)
        for r in trig.fired_df().collect()
    }
    assert got == {(1, 0): (2, 3.0), (2, 0): (1, 5.0)}, got


def test_parquet_merge_sink_crash_replay_is_deterministic(spark, work_dir):
    """Exactly-once under crash-replay: if the process dies AFTER writing
    v{N} but BEFORE flipping the manifest, the retry must rebuild v{N}
    from the same predecessor and converge to the identical table."""
    import json
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms_crash")
    sink = sk.ParquetMergeSink(spark, state, pk_cols=["k"], num_buckets=4)
    sink(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    man0 = json.load(open(os.path.join(state, "_CURRENT")))
    b1 = spark.createDataFrame([(1, "a2"), (3, "c")], "k long, v string")
    sink(b1, 1)
    want = {(r.k, r.v) for r in sink.snapshot_df().collect()}
    # simulate the crash: rewind the manifest to the pre-batch-1 state
    # (v1's files exist on disk but are uncommitted)
    with open(os.path.join(state, "_CURRENT"), "w") as f:
        json.dump(man0, f)
    sink(b1, 1)  # the retry
    got = {(r.k, r.v) for r in sink.snapshot_df().collect()}
    assert got == want == {(1, "a2"), (2, "b"), (3, "c")}


def test_parquet_merge_sink_null_keys_match_upsert_sink(spark, work_dir):
    """A null primary-key column is a key value like any other: a later
    row with the same (null-containing) key replaces the earlier one,
    exactly as in UpsertSink, on single- and two-column keys."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    mk = lambda rows: spark.createDataFrame(rows, "k1 long, k2 long, v string")  # noqa: E731
    batches = [
        [(None, None, "a"), (None, 1, "a"), (1, None, "a"), (1, 1, "a"), (2, 2, "a")],
        [(None, None, "b"), (None, 1, "b"), (1, None, "b"), (1, 1, "b"), (3, 3, "b")],
    ]
    for pk in (["k1"], ["k1", "k2"]):
        pms = sk.ParquetMergeSink(
            spark, os.path.join(work_dir, f"pms_null_{len(pk)}"), pk_cols=pk,
            num_buckets=4,
        )
        ups = sk.UpsertSink(pk)
        for i, rows in enumerate(batches):
            pms(mk(rows), i)
            ups(mk(rows), i)
        got = sorted(
            (tuple(r) for r in pms.snapshot_df().select("k1", "k2", "v").collect()),
            key=repr,
        )
        want = sorted(((d["k1"], d["k2"], d["v"]) for d in ups.snapshot()), key=repr)
        assert got == want, (pk, got, want)


def test_parquet_merge_sink_empty_batch_only_advances_manifest(spark, work_dir):
    """A batch with no rows commits (the manifest moves to its id) but
    writes no version dir; replaying it is a no-op; with history
    retained, time travel to it reads the state as of the batch before."""
    import json
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms_empty")
    sink = sk.ParquetMergeSink(
        spark, state, pk_cols=["k"], num_buckets=4, retain_history=True
    )
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")  # noqa: E731
    sink(mk([(1, "a"), (2, "b")]), 0)
    sink(mk([]), 1)
    cur = os.path.join(state, "_CURRENT")
    man1 = open(cur).read()
    assert json.loads(man1)["batch"] == 1
    assert not os.path.exists(os.path.join(state, "v1"))
    sink(mk([]), 1)  # replay of the empty batch
    assert open(cur).read() == man1
    assert not os.path.exists(os.path.join(state, "v1"))

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    assert rows(sink.snapshot_df(as_of_batch=1)) == rows(
        sink.snapshot_df(as_of_batch=0)
    ) == [(1, "a"), (2, "b")]
    sink(mk([(2, "b2"), (3, "c")]), 2)  # later batches merge as usual
    assert rows(sink.snapshot_df()) == [(1, "a"), (2, "b2"), (3, "c")]
    assert rows(sink.snapshot_df(as_of_batch=1)) == [(1, "a"), (2, "b")]


def test_parquet_merge_sink_writes_one_file_per_bucket(spark, work_dir):
    """However many partitions the batch (and the state read back) come
    in, each touched bucket of a version is written as one parquet file."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    state = os.path.join(work_dir, "pms_one_file")
    sink = sk.ParquetMergeSink(spark, state, pk_cols=["k"], num_buckets=8)
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string").repartition(4)  # noqa: E731

    def files_per_bucket(version):
        vdir = os.path.join(state, version)
        return {
            d: len([f for f in os.listdir(os.path.join(vdir, d)) if f.endswith(".parquet")])
            for d in os.listdir(vdir)
            if d.startswith("__bucket=")
        }

    sink(mk([(i, f"v{i}") for i in range(64)]), 0)
    v0 = files_per_bucket("v0")
    assert len(v0) == 8 and set(v0.values()) == {1}, v0
    # merge path: touched buckets read back and rewritten, still one file
    sink(mk([(i, f"w{i}") for i in range(0, 64, 3)]), 1)
    v1 = files_per_bucket("v1")
    assert v1 and set(v1.values()) == {1}, v1
    got = {r.k: r.v for r in sink.snapshot_df().collect()}
    assert got == {i: (f"w{i}" if i % 3 == 0 else f"v{i}") for i in range(64)}


def test_parquet_merge_sink_keeps_columns_a_later_batch_lacks(spark, work_dir):
    """The table schema only widens: after a batch adds a column, a batch
    without it (a restart on the old source schema) rewrites the buckets
    it touches without dropping that column from the rows it leaves."""
    import os

    from flink_1_19_source_spark.streaming import sinks as sk

    sink = sk.ParquetMergeSink(
        spark, os.path.join(work_dir, "pms_widen"), pk_cols=["k"], num_buckets=2
    )
    sink(spark.createDataFrame([(i, "a") for i in range(8)], "k long, v string"), 0)
    sink(
        spark.createDataFrame([(i, "b", i * 10) for i in range(8)], "k long, v string, q long"),
        1,
    )
    narrow = spark.createDataFrame([(0, "c"), (9, "c")], "k long, v string")
    sink(narrow, 2)
    sink(narrow, 3)  # the table schema must outlive one narrow commit
    got = {r.k: (r.v, r.q) for r in sink.snapshot_df().collect()}
    want = {i: ("b", i * 10) for i in range(1, 8)}
    want.update({0: ("c", None), 9: ("c", None)})
    assert got == want, got


def test_proc_time_fire_purge_replayed_batch_is_idempotent(spark, work_dir):
    """A crash-replayed micro-batch (same batch_id, same rows — the
    foreachBatch retry contract) must overwrite its own partial-state
    subdir, not double-count, and a re-fired tick must overwrite its
    fire output to the same value."""
    from flink_1_19_source_spark.streaming.proc_time_trigger import (
        ProcTimeFirePurge,
    )

    trig = ProcTimeFirePurge(spark, work_dir + "/ptr", ["k"], "v", every=2)
    mk = lambda rows: spark.createDataFrame(rows, "k long, v double")  # noqa: E731
    b0 = mk([(1, 1.0), (2, 5.0)])
    trig(b0, 0)
    trig(b0, 0)  # crash-replay of tick 0 before the fire
    b1 = mk([(1, 2.0)])
    trig(b1, 1)  # fire 0
    trig(b1, 1)  # crash-replay of the firing tick
    got = {
        (r.k, r.fire_seq): (r.n_events, r.sum_value)
        for r in trig.fired_df().collect()
    }
    assert got == {(1, 0): (2, 3.0), (2, 0): (1, 5.0)}, got


def test_state_store_provider_parity_rocksdb_vs_hdfs(spark, sf_dir):
    """X2/X4 state-backend story: keyed-state streams must produce
    identical answers under the spill-capable RocksDB provider (the
    100 TB state-size backend, session default in tests) and the
    HDFS-backed in-memory provider (the driver-sim default).  Runs the
    registered keep-last stream — applyInPandasWithState per user —
    once under each provider and compares the full result set."""
    from flink_1_19_source_spark.registry import REGISTRY, queries

    queries()  # populate the registry

    conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    assert spark.conf.get(conf) == rocks  # session default exercises RocksDB

    def run():
        rows = REGISTRY["s_keep_last_stream"].fn(spark, sf_dir).collect()
        return sorted((r.user_id, r.event_id) for r in rows)

    try:
        under_rocks = run()
        spark.conf.set(conf, hdfs)
        under_hdfs = run()
    finally:
        spark.conf.set(conf, rocks)
    assert len(under_rocks) > 0
    assert under_rocks == under_hdfs


def test_chained_join_state_parity_rocksdb_vs_hdfs(spark, sf_dir):
    """The chained 3-way interval join keeps TWO stream-stream join
    states live in one query — the heaviest state shape in the repo.
    Both providers must agree row-for-row (RocksDB is the 100 TB
    backend; the chained buffers are exactly what outgrows the
    in-memory provider first)."""
    from flink_1_19_source_spark.registry import REGISTRY, queries

    queries()

    conf = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    hdfs = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )

    def run():
        rows = REGISTRY["s_three_way_interval_join_stream"].fn(
            spark, sf_dir
        ).collect()
        return sorted((r.signup_id, r.purchase_id, r.error_id) for r in rows)

    try:
        under_rocks = run()
        spark.conf.set(conf, hdfs)
        under_hdfs = run()
    finally:
        spark.conf.set(conf, rocks)
    assert len(under_rocks) > 0
    assert under_rocks == under_hdfs


def test_replay_cache_follows_regenerated_source(spark, tmp_path):
    """A source rewritten at the same path with different rows must not
    replay the chunks cached from its previous contents."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

    def write(ids):
        ts = [t0 + datetime.timedelta(seconds=i) for i in ids]
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "ts": pa.array(ts, pa.timestamp("us", tz="UTC"))}),
            sf / "ev.parquet",
        )

    def replayed(tag):
        sdf = replay.replay_table(spark, str(sf), "ev", str(tmp_path / "work"), chunks=2)
        replay.run_available_now(
            sdf, tag, checkpoint_dir=str(tmp_path / f"ckpt_{tag}")
        )
        return sorted(r.id for r in spark.table(tag).collect())

    write([1, 2, 3, 4])
    assert replayed("s_replay_v1") == [1, 2, 3, 4]
    write([10, 20, 30])
    assert replayed("s_replay_v2") == [10, 20, 30]


def test_tumble_restart_with_changelog_checkpointing(spark, sf_dir, tmp_path):
    """The session's RocksDB state store commits each micro-batch as a
    changelog file per state partition. A tumble stream stopped halfway
    and restarted on the same checkpoint restores from those changelogs
    and still converges to its batch twin."""
    import os
    import re

    src = os.path.join(sf_dir, "events.parquet")
    chunks, held = str(tmp_path / "chunks"), str(tmp_path / "held")
    replay.split_into_chunks(src, chunks, "ts", 4)
    os.makedirs(held)
    files = sorted(os.listdir(chunks))
    for f in files[2:]:
        shutil.move(os.path.join(chunks, f), os.path.join(held, f))
    schema = spark.read.parquet(chunks).schema
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        sdf = replay.read_stream(spark, chunks, schema, 1)
        q = (
            ops.tumble_agg(sdf, "ts", "1 hour", ["event_type"])
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # first half of the chunks
    for f in files[2:]:
        shutil.move(os.path.join(held, f), os.path.join(chunks, f))
    drain()  # restart on the same checkpoint

    state = os.path.join(ckpt, "state", "0")
    changelogs = [
        f
        for p in os.listdir(state)
        if p.isdigit()
        for f in os.listdir(os.path.join(state, p))
        if re.fullmatch(r"\d+\.changelog", f)
    ]
    assert changelogs, sorted(os.listdir(state))
    _assert_tumble_matches_batch(spark, sf_dir, spark.read.parquet(out))


def _small_replay(spark, sf_dir, tmp_path, chunks):
    """`chunks` one-file micro-batches of the events table."""
    return replay.replay_table(
        spark, sf_dir, "events", str(tmp_path / "src"), chunks=chunks
    )


def test_crash_plan_never_reached_fails_the_drain(spark, sf_dir, tmp_path):
    """A crash plan whose batch the replay never reaches is a vacuous
    restart test: the drain must say so instead of passing."""
    crash = replay.CrashPlan(at=99)

    def fold(batch, bid):
        if crash.fire(bid):
            raise RuntimeError("injected crash")

    with pytest.raises(AssertionError, match="crash injection never fired"):
        replay.run_foreach_batch(
            _small_replay(spark, sf_dir, tmp_path, 2), fold,
            checkpoint_dir=str(tmp_path / "ckpt"), crash=crash,
        )
    assert crash.fired == 0


def test_drain_propagates_other_errors_and_restores_conf(spark, sf_dir, tmp_path):
    """A fold error that is not an injected crash is not swallowed as
    one (the fold fails once, so a swallowed error would let the restart
    pass), and the drain's state-partition pin is undone on the way out."""
    key = "spark.sql.shuffle.partitions"
    session_value = spark.conf.get(key)
    spark.conf.set(key, "16")
    failed = []
    try:

        def fold(batch, bid):
            if not failed:
                failed.append(bid)
                raise ValueError("fold bug, not a crash")

        with pytest.raises(Exception, match="fold bug, not a crash") as err:
            replay.run_foreach_batch(
                _small_replay(spark, sf_dir, tmp_path, 2), fold,
                checkpoint_dir=str(tmp_path / "ckpt"),
                crash=replay.CrashPlan(at=1),
            )
        assert not isinstance(err.value, AssertionError)
        assert spark.conf.get(key) == "16"
    finally:
        spark.conf.set(key, session_value)


def test_drain_restarts_on_same_checkpoint_at_pinned_partitions(
    spark, sf_dir, tmp_path
):
    """`times=2` kills the fold twice at batch `at`; both restarts resume
    from the same checkpoint, so the fold sees that batch three times and
    the sink ends equal to a clean run's. The state store has
    `STATE_PARTITIONS` partitions whatever the session conf says."""
    import os

    key = "spark.sql.shuffle.partitions"
    agg = _small_replay(spark, sf_dir, tmp_path, 3).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.max("event_id").alias("last_id")
    )

    def drain(ckpt, crash=None):
        sink = sinks.UpsertSink(pk_cols=["event_type"])
        seen = []

        def fold(batch, bid):
            seen.append(bid)
            if crash is not None and crash.fire(bid):
                raise RuntimeError("injected crash before the sink write")
            sink(batch, bid)

        replay.run_foreach_batch(
            agg, fold, checkpoint_dir=ckpt, output_mode="update", crash=crash
        )
        return sorted(map(str, sink.snapshot())), seen

    session_value = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        ckpt = str(tmp_path / "ckpt_crash")
        got, seen = drain(ckpt, replay.CrashPlan(at=1, times=2))
        assert spark.conf.get(key) == "16"
    finally:
        spark.conf.set(key, session_value)
    assert seen.count(1) == 3, seen
    want, _ = drain(str(tmp_path / "ckpt_clean"))
    assert got == want
    state = os.path.join(ckpt, "state", "0")
    parts = sorted(int(p) for p in os.listdir(state) if p.isdigit())
    assert parts == list(range(replay.STATE_PARTITIONS)), parts
