"""Retract-stream consumers and producers (SURVEY §1.3/§7.4, J2, O6).

The §7.4 changelog shapes: retractable Top-N over an agg changelog,
JOIN over an agg changelog with join-state re-emission, and the
retraction-PRODUCING unwindowed outer stream join.  Split out of
queries/streaming2.py (same registry names) to keep modules under the
house size bound.
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

# --------------------------------------------------------------------------
# §7.4-retract — retractable Top-N over a streaming aggregate's changelog
# --------------------------------------------------------------------------
_TOPN_K = 10
_TOPN_SLACK = 6


@register(
    "s_topn_over_agg_retract",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ), ranked AS (
        SELECT user_id, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rn
        FROM per_user
    )
    SELECT CAST(rn AS BIGINT) AS rn, user_id, cnt
    FROM ranked WHERE rn <= {_TOPN_K}
    """,
    survey="§7.4-retract O6-S X2 X4",
    tags=("streaming",),
)
def s_topn_over_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's classic retractable Top-N OVER an unwindowed streaming
    aggregate — the second canonical consume-a-retraction-stream shape
    (SURVEY §7.4; `s_chained_agg_retract` proved agg→agg, this proves
    agg→rank):

        SELECT * FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) rn
          FROM (SELECT user_id, COUNT(*) cnt FROM events GROUP BY user_id)
        ) WHERE rn <= 10

    Level 1 is Spark's NATIVE update-mode streaming aggregate; per
    micro-batch foreachBatch (1) synthesizes the -U/+U changelog against
    the keyed mirror (ChangelogNormalize), (2) MERGEs the +I/+U absolute
    values into a BOUNDED Top-N candidate table and prunes everything
    below rank K+slack with -D MERGE deletes (Flink's
    UpdatableTopNFunction buffer, done set-based), (3) upserts the
    mirror, (4) marks the batch ledger.

    Eviction safety is an explicit precondition, stated and relied on:
    the ranking value (COUNT over an append-only stream) is MONOTONE
    non-decreasing, so an evicted row's rank can never improve without
    its own +U (which re-enters through the changelog carrying the new
    absolute count) — a retractable source (CDC deletes) would instead
    re-rank from the keyed mirror, which this pipeline already
    maintains.  State is O(K + slack + batch churn), never O(users):
    the 100 TB shape, where the hot ranking state stays driver-scan
    small while the mirror is a keyed MERGE table probed only on
    changed keys.

    All state mutations are ABSOLUTE-value MERGEs (idempotent), so a
    crash between the state MERGE and the ledger mark converges on
    replay — pinned by tests/test_r7_ops.py::
    test_topn_over_agg_crash_replay_converges; chunk-count invariance
    (3 vs 8 micro-batches) is pinned in test_chunk_invariance.py.
    Drained result = rank snapshot of the candidate table, which must
    hash-match the batch two-level SQL above (the DuckDB oracle).
    """
    return _topn_retract_run(spark, sf_dir)


def _topn_retract_run(
    spark: SparkSession, sf_dir: str, crash_once_at: int | None = None
) -> DataFrame:
    from pyspark.sql import Window

    sdf, wd = _events_stream(spark, sf_dir, "s_topn_retract")
    level1 = sdf.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))

    run = uuid.uuid4().hex[:8]
    url = jdbc_mod.derby_url(os.path.join(wd, f"derby-{run}"))
    mirror = jdbc_mod.JdbcTableSource(url, "TN_MIRROR")
    state = jdbc_mod.JdbcTableSource(
        url, "TN_TOPN", column_types={"_rowkind": "VARCHAR(8)"}
    )
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "TN_LEDGER"))
    mirror.ensure_table(
        spark.createDataFrame([], "user_id long, cnt long"), overwrite=True
    )
    state.ensure_table(
        spark.createDataFrame([], "user_id long, cnt long"), overwrite=True
    )
    ledger.init(spark)
    crash = replay.CrashPlan(crash_once_at)
    rank_w = Window.orderBy(F.col("cnt").desc(), F.col("user_id"))

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.seen(spark, batch_id):
            return  # committed batch replayed after a crash: no-op
        batch_df = batch_df.persist()
        try:
            changelog = retract.synthesize_retractions(
                batch_df, mirror.scan(spark), ["user_id"], ["cnt"]
            )
            # +I/+U carry the new ABSOLUTE count: upsert into candidates
            # (the -U needs no delete — its key's +U replaces it in the
            # same MERGE, the set-based form of retract-then-add)
            adds = changelog.filter(F.col("_rowkind") != "-U").select(
                "user_id", "cnt"
            )
            state.upsert(adds, pk_cols=["user_id"])
            # prune: everything below rank K+slack leaves the candidate
            # table (monotone ranking value => safe, see docstring)
            ranked = state.scan(spark).withColumn(
                "rn", F.row_number().over(rank_w)
            )
            evict = (
                ranked.filter(F.col("rn") > _TOPN_K + _TOPN_SLACK)
                .select("user_id", "cnt")
                .withColumn("_rowkind", F.lit("-D"))
            )
            if evict.count():
                state.upsert(evict, pk_cols=["user_id"], op_col="_rowkind")
            mirror.upsert(
                batch_df.select("user_id", "cnt"), pk_cols=["user_id"]
            )
            if crash.fire(batch_id):
                # worst spot: every state table mutated, ledger unmarked
                raise RuntimeError("injected crash before ledger mark")
            ledger.mark(spark, batch_id)
        finally:
            batch_df.unpersist()

    plan = sinks.plan_sink("chained_agg")  # update + keyed_merge (§7.4)
    ckpt = os.path.join(wd, f"ckpt-{run}")
    replay.run_foreach_batch(
        level1, fold, checkpoint_dir=ckpt, output_mode=plan.output_mode,
        crash=crash,
    )
    shutil.rmtree(ckpt, ignore_errors=True)
    return (
        state.scan(spark)
        .withColumn("rn", F.row_number().over(rank_w).cast("long"))
        .filter(F.col("rn") <= _TOPN_K)
        .select("rn", "user_id", "cnt")
    )


@register(
    "s_join_over_agg_retract",
    oracle="""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, u.cnt
    FROM events e JOIN per_user u ON e.user_id = u.user_id
    """,
    survey="§7.4-retract J1 X2 X4",
    tags=("streaming",),
)
def s_join_over_agg_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming JOIN consuming an unwindowed aggregate's changelog —
    Flink's enrich-against-aggregate, the THIRD canonical
    consume-a-retraction-stream shape (SURVEY §7.4; agg→agg and
    agg→rank are s_chained_agg_retract / s_topn_over_agg_retract):

        SELECT e.event_id, e.user_id, u.cnt
        FROM events e
        JOIN (SELECT user_id, COUNT(*) cnt FROM events GROUP BY user_id) u
          ON e.user_id = u.user_id

    In Flink the join's right input is an updating table: every +U on a
    user's count retracts ALL previously-emitted join rows for that user
    and re-emits them with the new count.  Here, per micro-batch,
    foreachBatch (1) appends the batch's events to the join's LEFT-side
    state (a self-compacting SegmentStore — the join operator's keyed
    left state, bounded files over any uptime), (2) recomputes the new
    ABSOLUTE count for exactly the touched users from that log and
    synthesizes the ``-U/+U`` changelog against the keyed mirror
    (ChangelogNormalize), (3) re-emits every logged event of a changed
    user with its +U count and MERGEs by event_id into the sink —
    the set-based form of Flink's join-state re-emission, and (4)
    upserts the mirror and marks the batch ledger.

    The ``-U`` rows need no sink deletes: the join key set never
    shrinks (counts grow monotonically; an inner-join match can't
    disappear), so each -U's rows are replaced by its +U's in the same
    MERGE — the precondition is stated and relied on exactly as in the
    Top-N eviction rule; a retractable source would add -D MERGEs keyed
    by event_id.  Per-batch work ∝ logged events of users TOUCHED in
    the batch (Flink's own re-emission cost), never untouched history.

    Every state mutation is an absolute-value MERGE or an idempotent
    log append, so a crash at ANY point between them converges on
    replay (the recomputed counts are absolute, from the log, not
    mirror+delta) — pinned by tests/test_r8_ops.py; chunk-slicing
    invariance likewise.  Drained sink = every event enriched with its
    user's final count = the batch join (the DuckDB oracle)."""
    return _join_retract_run(spark, sf_dir)


def _join_retract_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    chunks: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _FILES_PER_TRIGGER, _work_dir

    wd = _work_dir(sf_dir, "s_join_retract")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=chunks if chunks is not None else _CHUNKS,
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    run = uuid.uuid4().hex[:8]
    url = jdbc_mod.derby_url(os.path.join(wd, f"derby-{run}"))
    mirror = jdbc_mod.JdbcTableSource(url, "JR_MIRROR")
    out = jdbc_mod.JdbcTableSource(url, "JR_OUT")
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "JR_LEDGER"))
    mirror.ensure_table(
        spark.createDataFrame([], "user_id long, cnt long"), overwrite=True
    )
    out.ensure_table(
        spark.createDataFrame([], "event_id long, user_id long, cnt long"),
        overwrite=True,
    )
    ledger.init(spark)
    log = SegmentStore(
        spark, os.path.join(wd, f"evlog-{run}"), compact_every=2
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.seen(spark, batch_id):
            return  # committed batch replayed after a crash: no-op
        batch_df = batch_df.persist()
        try:
            # (1) left-side join state: append this batch's events
            log.append(batch_df.select("event_id", "user_id"), batch_id)
            changed = batch_df.select("user_id").distinct()
            affected = log.read().join(changed, "user_id")
            # (2) new ABSOLUTE counts for touched users, from the log
            # (absolute ⇒ every downstream MERGE is idempotent under
            # crash replay, unlike mirror+delta)
            batch_l1 = affected.groupBy("user_id").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            changelog = retract.synthesize_retractions(
                batch_l1, mirror.scan(spark), ["user_id"], ["cnt"]
            )
            upserts = changelog.filter(F.col("_rowkind") != "-U").select(
                "user_id", "cnt"
            )
            # (3) join-state re-emission: every logged event of a
            # changed user pairs with its +U count
            joined = affected.join(upserts, "user_id").select(
                "event_id", "user_id", "cnt"
            )
            out.upsert(joined, pk_cols=["event_id"])
            if crash.fire(batch_id):
                # worst spot: sink mutated, mirror/ledger uncommitted
                raise RuntimeError("injected crash before ledger mark")
            mirror.upsert(upserts, pk_cols=["user_id"])
            ledger.mark(spark, batch_id)
        finally:
            batch_df.unpersist()

    ckpt = os.path.join(wd, f"ckpt-{run}")
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out.scan(spark).select("event_id", "user_id", "cnt")


@register(
    "s_outer_join_retract_stream",
    oracle="""
    SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
    FROM (SELECT event_id, user_id FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT event_id, user_id FROM events
               WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
    """,
    survey="§7.4-retract J2 X2 X4",
    tags=("streaming",),
)
def s_outer_join_retract_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular (unwindowed) LEFT OUTER stream-stream join — Flink's
    retraction-PRODUCING join (the §7.4 shapes above consume changelogs;
    this operator is where changelogs are BORN in Flink):

        SELECT v.event_id, p.event_id, v.user_id
        FROM views v LEFT JOIN purchases p ON v.user_id = p.user_id

    Flink semantics: a view with no purchase yet emits +I(v, NULL)
    immediately; the user's FIRST purchase retracts that null-padded row
    (-D) and re-emits +I(v, p) — the null flip is the canonical
    retraction.  Here, per micro-batch, foreachBatch (1) appends each
    side's rows to its join state (self-compacting SegmentStores — both
    sides' keyed state, bounded files over any uptime), (2) emits
    INCREMENTALLY, Flink's actual algorithm: each (view, purchase) pair
    lands exactly once, in the batch where the later side arrives (new
    views LEFT-join the purchase log — the NULL pad for the unmatched —
    and new purchases inner-join the previously-logged views), and
    (3) synthesizes retractions from the LOGS — '-D' for the null rows
    of users whose FIRST purchase arrived this batch — applied with the
    additions in ONE changelog MERGE keyed on (view_id,
    purchase-or-sentinel).  Untouched users cost nothing; per-batch sink
    volume ∝ NEW pairs (plus first-match retractions), not touched-key
    state — the r8 shape re-merged the full state per batch and that
    Derby insert volume was the bench's streaming floor.

    Every emission set derives from batch_df plus the idempotently-
    converged logs, so a crash between the MERGE and the ledger mark
    replays identically: re-staged deletes hit already-absent rows
    (MERGE no-op) and upserts are idempotent — pinned by
    tests/test_r8_tail.py, chunk-slicing invariance likewise.  Drained
    snapshot = the batch LEFT JOIN (the DuckDB oracle): every view
    paired with all its user's purchases, or with NULL if that user
    never purchases."""
    return _outer_join_retract_run(spark, sf_dir)


def _outer_join_retract_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    chunks: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _FILES_PER_TRIGGER, _work_dir

    wd = _work_dir(sf_dir, "s_outer_join_retract")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=chunks if chunks is not None else _CHUNKS,
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    run = uuid.uuid4().hex[:8]
    url = jdbc_mod.derby_url(os.path.join(wd, f"derby-{run}"))
    out = jdbc_mod.JdbcTableSource(
        url, "OJ_OUT", column_types={"op": "VARCHAR(4)"}
    )
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "OJ_LEDGER"))
    out.ensure_table(
        spark.createDataFrame(
            [], "view_id long, b_key long, user_id long"
        ),
        overwrite=True,
    )
    ledger.init(spark)
    llog = SegmentStore(spark, os.path.join(wd, f"vlog-{run}"), compact_every=2)
    rlog = SegmentStore(spark, os.path.join(wd, f"plog-{run}"), compact_every=2)
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.seen(spark, batch_id):
            return  # committed batch replayed after a crash: no-op
        batch_df = batch_df.persist()
        try:
            # (1) both sides' join state: idempotent per-batch appends
            llog.append(
                batch_df.filter(F.col("event_type") == "view")
                .select("event_id", "user_id"),
                batch_id,
            )
            rlog.append(
                batch_df.filter(F.col("event_type") == "purchase")
                .select("event_id", "user_id"),
                batch_id,
            )
            touched = batch_df.select("user_id").distinct()
            l_aff = llog.read().join(touched, "user_id")
            r_aff = rlog.read().join(touched, "user_id")
            # (2) INCREMENTAL emission — Flink's actual join algorithm:
            # a (view, purchase) pair is emitted exactly once, in the
            # batch where the LATER side arrives.  New views pair with
            # every logged purchase (LEFT, so a still-unmatched view
            # gets its +I(v, NULL) pad immediately); new purchases pair
            # with previously-logged views only (new views were covered
            # by the first set — the split keeps the two PK-disjoint,
            # no dedup needed).  Re-MERGEing the full touched-key state
            # per batch was the r8 bench's Derby-insert floor: O(state)
            # rows written per batch vs O(new pairs) here.
            new_l = batch_df.filter(
                F.col("event_type") == "view"
            ).select("event_id", "user_id")
            add_new_views = (
                new_l.withColumnRenamed("event_id", "view_id")
                .join(
                    r_aff.withColumnRenamed("event_id", "purchase_id"),
                    "user_id",
                    "left",
                )
                .select(
                    "view_id",
                    F.coalesce("purchase_id", F.lit(-1)).alias("b_key"),
                    "user_id",
                )
            )
            old_views = l_aff.join(
                new_l.select("event_id"), "event_id", "left_anti"
            )
            desired = add_new_views.unionByName(
                old_views.withColumnRenamed("event_id", "view_id")
                .join(
                    batch_df.filter(F.col("event_type") == "purchase")
                    .select(
                        F.col("event_id").alias("purchase_id"), "user_id"
                    ),
                    "user_id",
                )
                .select(
                    "view_id",
                    F.col("purchase_id").alias("b_key"),
                    "user_id",
                )
            )
            # (3) retractions derived from the LOGS, never a sink scan:
            # a stale (view, NULL) row exists exactly for users whose
            # FIRST purchase arrived in this batch (they were unmatched
            # before, so every logged view carried the null pad) —
            # computable as new-purchase users minus prior-purchase
            # users, keeping per-batch I/O ∝ touched-key state.  On a
            # crash replay the idempotent log append already holds this
            # batch's rows, and the prior set (log MINUS this batch by
            # event_id) is unchanged — the same deletes re-stage against
            # already-absent rows, a MERGE no-op.
            new_r = batch_df.filter(
                F.col("event_type") == "purchase"
            ).select("event_id", "user_id")
            prior_users = (
                rlog.read()
                .join(new_r.select("event_id"), "event_id", "left_anti")
                .select("user_id")
                .distinct()
            )
            first_users = (
                new_r.select("user_id").distinct()
                .join(prior_users, "user_id", "left_anti")
            )
            retractions = (
                l_aff.join(first_users, "user_id")
                .select(
                    F.col("event_id").alias("view_id"),
                    F.lit(-1).alias("b_key"),
                    "user_id",
                )
                .withColumn("op", F.lit("-D"))
            )
            additions = desired.withColumn("op", F.lit("+I"))
            out.upsert(
                retractions.unionByName(additions),
                pk_cols=["view_id", "b_key"],
                op_col="op",
            )
            if crash.fire(batch_id):
                # worst spot: sink mutated, ledger uncommitted
                raise RuntimeError("injected crash before ledger mark")
            ledger.mark(spark, batch_id)
        finally:
            batch_df.unpersist()

    ckpt = os.path.join(wd, f"ckpt-{run}")
    for attempt in range(crash.times):
        try:
            replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)
            raise AssertionError("crash injection never fired")
        except Exception as e:
            if "injected crash" not in str(e):
                raise
        # restart-from-scratch resume: a fresh checkpoint each time
        shutil.rmtree(ckpt, ignore_errors=True)
        ckpt = os.path.join(wd, f"ckpt-{run}-resume{attempt}")
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out.scan(spark).select(
        "view_id",
        F.when(F.col("b_key") >= 0, F.col("b_key")).alias("purchase_id"),
        "user_id",
    )
