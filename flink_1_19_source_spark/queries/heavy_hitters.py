"""A9 — Misra-Gries heavy hitters: the frequent-items member of the
mergeable-sketch family (HLL, Bloom, quantile, count-min, theta).

The production pattern is TWO-PHASE: a bounded-memory candidate pass
(per-partition Misra-Gries summaries, k counters each — memory is
k x partitions regardless of vocabulary size), then an exact recount
of the tiny candidate set.  The guarantee that makes the recount
exact — and the DuckDB oracle an equivalence proof, not a spot check:
if an item's global count exceeds N/k, then by pigeonhole its count
in SOME partition exceeds n_p/k, and MG(k) never evicts an item above
that bar [Misra & Gries 1982], so the candidate union contains every
true heavy hitter for ANY partitioning.  A dropped hitter is a hash
mismatch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import text_analysis as ta
from ..registry import register
from ..tables import load_table

K_HH = 32      # counters per summary == 1/phi (threshold N/32)


def mg_feed(
    counters: dict[str, int], seq, k: int = K_HH
) -> dict[str, int]:
    """One Misra-Gries pass of ``seq`` into an existing counter table —
    the incremental form both the batch per-partition summaries and the
    streaming per-batch summaries feed (state stays <= k entries however
    long the stream)."""
    for w in seq:
        if w in counters:
            counters[w] += 1
        elif len(counters) < k:
            counters[w] = 1
        else:
            for key in list(counters):
                counters[key] -= 1
                if counters[key] == 0:
                    del counters[key]
    return counters


def mg_summary(seq: list[str], k: int = K_HH) -> dict[str, int]:
    """Classic Misra-Gries: k counters; a full table decrements every
    counter (evicting zeros) instead of admitting a new item.  Retains
    any item whose count exceeds len(seq)/k; stored counts
    underestimate by at most len(seq)/k."""
    return mg_feed({}, seq, k)


def mg_parts(k: int = K_HH):
    """The map-only phase-1 candidate pass, shared by the batch query
    and the per-batch streaming summaries: one MG(k) summary per
    physical partition, fed incrementally so live state stays k
    counters however large the partition."""

    def _run(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            mg_feed(counters, pdf["w"].tolist(), k)
        yield pd.DataFrame({"w": list(counters)})

    return _run


def heavy_hitters(
    toks: DataFrame, spark: SparkSession, k: int = K_HH
) -> DataFrame:
    """(token, cnt, rank) for every token with cnt * k > N, via the
    two-phase MG candidate pass + exact recount.  ``toks`` must carry a
    token column ``w``.

    r12 shape: phase 1 is a MAP-ONLY ``mapInPandas`` — one MG(k)
    summary per PHYSICAL partition, fed incrementally batch-by-batch so
    live state really is k counters however large the partition (the
    former ``groupBy(pid).applyInPandas`` shuffled every token row to 8
    reducers AND materialized each group as one pandas frame before
    summarizing, paying a full exchange plus unused ordering columns for
    zero retention benefit — the pigeonhole guarantee holds for ANY
    partitioning, so the scan's own partitions serve).  Only the token
    column crosses the Python boundary."""

    cand = (
        toks.select("w")
        .mapInPandas(mg_parts(k), "w string")
        .distinct()
        .localCheckpoint(eager=True)
    )
    counts = (
        toks.join(F.broadcast(cand), "w", "left_semi")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("n"))
        .select(
            F.col("w").alias("token"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "token"))
            .cast("long"),
        )
    )


@register(
    "a19_heavy_hitters_mg",
    oracle=rf"""
    WITH toks AS (
      SELECT UNNEST(list_filter(string_split_regex(LOWER(text), '\s+'),
                    t -> t <> '')) AS w
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n FROM toks
    ), c AS (
      SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
    )
    SELECT w AS token, CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT)
             AS rank
    FROM c, tot WHERE cnt * {K_HH} > n
    """,
    survey="A9 A14",
)
def a19_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items (heavy hitters) via per-partition MISRA-GRIES
    summaries + exact recount: phase 1 runs MG(32) inside each scan
    partition (memory bounded at 32 counters per partition whatever
    the vocabulary — and genuinely map-only since r12: no shuffle
    feeds the candidate pass), phase 2 recounts only the candidate
    union and keeps tokens with cnt*32 > N.  The pigeonhole retention
    guarantee makes the final set EXACTLY the true heavy hitters for
    ANY partitioning — which is why a plain GROUP BY HAVING oracle is
    a full equivalence proof of the sketch path, and why the summary
    pass may ride the scan's own partitions instead of paying a
    deterministic-pid exchange.  Fixture honesty: this corpus has a
    31-word vocabulary, so the fixture run never evicts (31 <= 32
    counters); the eviction path and the retention bar are pinned on
    a planted adversarial corpus in tests/test_r10_ops.py.  At 100 TB
    (vocab >> k) phase 1 is one map-side pass with k-counter state and
    phase 2 a semi-join recount of <= k x partitions candidates — the
    point of the sketch."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(ta.tokens(F.col("text"))).alias("w"))
    return heavy_hitters(toks, spark, K_HH)


@register(
    "s_heavy_hitters_stream",
    oracle=rf"""
    WITH toks AS (
      SELECT UNNEST(list_filter(string_split_regex(LOWER(text), '\s+'),
                    t -> t <> '')) AS w
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n FROM toks
    ), c AS (
      SELECT w, COUNT(*) AS cnt FROM toks GROUP BY w
    )
    SELECT w AS token, CAST(cnt AS BIGINT) AS cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, w) AS BIGINT)
             AS rank
    FROM c, tot WHERE cnt * {K_HH} > n
    """,
    survey="A9 X2 X4",
    tags=("streaming",),
)
def s_heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _heavy_hitters_stream_run(spark, sf_dir)


def _heavy_hitters_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """STREAMING heavy hitters — the frequent-items index maintained at
    ingest: each micro-batch contributes (a) its Misra-Gries candidate
    set (bounded at k counters however large the batch) and (b) its
    additive per-token count segment; at the drain, candidates whose
    summed count clears cnt*k > N are the answer.  The final set is
    provably SLICING-INVARIANT: a global heavy hitter exceeds the bar
    in some batch by pigeonhole (so it is in some batch's MG set for
    ANY chunking), and the count fold is a plain sum — the oracle is
    therefore the same GROUP BY HAVING equivalence as the batch query.
    Segments are bid-gated (crash-replay idempotent, sweep-pinned) and
    SegmentStore folds keep both stores bounded: candidates by
    distinct, counts by per-token sum — vocabulary-sized state, the
    same contract as the DSIR stats stream.  At 100 TB the per-batch
    MG pass is map-side with k-counter state; the count segments are
    the token-keyed shuffle every LM count pass already pays."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_heavy_hitters")
    run = uuid.uuid4().hex[:8]
    cand_dir = os.path.join(wd, f"cand-{run}")
    cnt_dir = os.path.join(wd, f"cnt-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    cand_store = SegmentStore(
        spark, cand_dir, compact_every=2, merge=lambda df: df.distinct()
    )
    cnt_store = SegmentStore(
        spark, cnt_dir, compact_every=2,
        merge=lambda df: df.groupBy("w").agg(
            F.sum("cnt").alias("cnt")
        ),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        # same r12 shape as the batch query: the per-batch MG summary is
        # map-only over the batch's own partitions (retention holds for
        # any partitioning; the recount at the drain is exact), with
        # only the token column crossing the Python boundary
        toks = batch.select(
            F.explode(ta.tokens(F.col("text"))).alias("w")
        ).localCheckpoint(eager=True)

        cand_store.append(
            toks.mapInPandas(mg_parts(K_HH), "w string").distinct(), bid
        )
        if crash.fire(bid):
            # torn: candidates carry the batch, counts do not
            raise RuntimeError("injected crash between store appends")
        cnt_store.append(
            toks.groupBy("w").agg(F.count(F.lit(1)).alias("cnt")), bid
        )

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    cand = cand_store.read().distinct()
    counts = (
        cnt_store.read()
        .groupBy("w")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("n"))
    out = (
        counts.join(F.broadcast(cand), "w", "left_semi")
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * K_HH > F.col("n"))
        .select(
            F.col("w").alias("token"),
            F.col("cnt").cast("long").alias("cnt"),
        )
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("cnt"), "token"))
            .cast("long"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(cand_dir, ignore_errors=True)
    shutil.rmtree(cnt_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
