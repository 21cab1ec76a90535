"""N4 — the TRIGRAM interpolated Kneser-Ney surprisal tier
(SURVEY §2.11): the order-3 KN gate (the KenLM shape real perplexity
filters run) and its streaming stats-maintenance twin.  Split out of
queries/llm_surprisal.py (same registry names) to keep modules under
the house size bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

# --------------------------------------------------------------------------
# N4 — TRIGRAM interpolated Kneser-Ney surprisal gate (the KenLM shape)
# --------------------------------------------------------------------------
# Shared by the batch gate and the streaming stats twin: identical
# drained counts imply identical scores, so both certify against the
# same closed-form replay.
_KN3_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), tri AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2, tk[i + 2] AS w3
      FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 3)
    ), c3 AS (
      SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri GROUP BY w1, w2, w3
    ), ctx AS (
      SELECT w1, w2, SUM(c123) AS c12p, COUNT(*) AS t12
      FROM c3 GROUP BY w1, w2
    ), mid AS (
      SELECT w2, w3, COUNT(*) AS m23 FROM c3 GROUP BY w2, w3
    ), m2 AS (
      SELECT w2, SUM(m23) AS m2mid, COUNT(*) AS t2 FROM mid GROUP BY w2
    ), cw AS (
      SELECT w3, COUNT(*) AS n1c FROM mid GROUP BY w3
    ), tot AS (
      SELECT COUNT(*) AS ncc FROM mid
    ), scored AS (
      -- den3/num3 in HUGEINT; the quotient is small enough for bin()
      SELECT t.doc_id,
             LENGTH(bin(CAST(
               (CAST(16 AS HUGEINT) * ctx.c12p * m2.m2mid * tot.ncc)
               // (CAST(GREATEST(4*c3.c123 - 3, 0) AS HUGEINT)
                     * 4 * m2.m2mid * tot.ncc
                   + CAST(3 AS HUGEINT) * ctx.t12
                     * (GREATEST(4*mid.m23 - 3, 0) * tot.ncc
                        + 3 * m2.t2 * cw.n1c))
               AS BIGINT))) - 1 AS bits
      FROM tri t
      JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
      JOIN ctx ON t.w1 = ctx.w1 AND t.w2 = ctx.w2
      JOIN mid ON t.w2 = mid.w2 AND t.w3 = mid.w3
      JOIN m2 ON t.w2 = m2.w2
      JOIN cw ON t.w3 = cw.w3
      CROSS JOIN tot
    ), agg AS (
      SELECT doc_id, CAST(SUM(bits) AS BIGINT) AS sum_bits,
             COUNT(*) AS n_trigrams
      FROM scored GROUP BY doc_id
    ), thr AS (
      SELECT (1000 * SUM(sum_bits)) // SUM(n_trigrams) AS t FROM agg
    )
    SELECT doc_id, sum_bits, CAST(n_trigrams AS BIGINT) AS n_trigrams,
           CAST((1000 * sum_bits) // n_trigrams AS BIGINT)
             AS mean_millibits,
           (1000 * sum_bits) // n_trigrams <= t AS keep
    FROM agg, thr
"""


@register(
    "n4_kn3_surprisal_filter",
    oracle=_KN3_ORACLE,
    survey="N4",
)
def n4_kn3_surprisal_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIGRAM interpolated Kneser-Ney surprisal gate — the order-3
    edition of n4_kn_surprisal_filter, which is the structure real
    perplexity filters run (CCNet's KenLM is a higher-order
    interpolated-KN model; order 3 exhibits the full recursion:
    raw-count top level, CONTINUATION-count middle level, continuation
    unigram floor) [Kneser & Ney 1995; Chen & Goodman 1999].

    With d = 3/4 at both levels the recursion folds into ONE exact
    rational per trigram event, every statistic derived from the single
    trigram-type table c3 (self-consistent continuation counts):

      P2(w3|w2)   = [max(4·m23−3,0)·Ncc + 3·t2·n1c(w3)] / (4·m2mid·Ncc)
      P3(w3|w1w2) = [max(4·c123−3,0)·(4·m2mid·Ncc) + 3·t12·num2]
                    / (16·c12'·m2mid·Ncc)

    where m23 = |{w1: (w1,w2,w3) a type}|, m2mid/t2 its per-middle
    sums, n1c(w3) = |{w2: (w2,w3)}|, Ncc = |(w2,w3) types|, c12'/t12
    the trigram-context count/type-fan.  Both levels telescope to
    exactly 1 per context (the sum of the max-terms is den − backoff
    mass), so den ≥ num and whole-bit surprisal is bit_length(den //
    num) − 1 — no log(), no float.  Products run in DECIMAL(38)/
    HUGEINT (den3 can pass int64 at large SF); the QUOTIENT is back in
    int64 because num3 ≥ 9.  Keep rule: mean millibits ≤ corpus mean.

    100 TB shape: one trigram explode, one trigram-keyed count
    shuffle; every derived table (ctx, mid, m2, cw) is an aggregation
    of c3 — no second corpus pass; scoring co-partitions the event
    stream against c3/ctx on (w1,w2) and mid/m2/cw on (w2[,w3]);
    scalars broadcast."""
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents")
    return _kn3_scores_from(
        d.select("doc_id", ta.tokens(F.col("text")).alias("tk"))
    )


def _kn3_tri(tk_df: DataFrame) -> DataFrame:
    """Trigram event stream (doc_id, w1, w2, w3) from a tokens frame."""
    tk = tk_df.filter(F.size("tk") >= 3)
    return tk.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(tk) - 3),"
                " i -> struct(tk[i] AS w1, tk[i + 1] AS w2,"
                " tk[i + 2] AS w3))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2", "p.w3")


def _kn3_scores_from(tk_df: DataFrame) -> DataFrame:
    """Shared trigram-KN core over a (doc_id, tk) tokens frame — split
    out so tests can plant corpora through the exact scoring path."""
    tri = _kn3_tri(tk_df)
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c123"))
    return _kn3_score(tri, c3)


def _kn3_score(tri: DataFrame, c3: DataFrame) -> DataFrame:
    """Score trigram events against a (w1,w2,w3,c123) count table —
    the count table may come from the one-shot aggregation or from a
    drained stream's additive segments (s_kn3_stats_stream); every
    derived statistic is an aggregation of c3, so identical counts
    imply identical scores."""
    ctx = c3.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12p"), F.count(F.lit(1)).alias("t12")
    )
    mid = c3.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("m23"))
    m2 = mid.groupBy("w2").agg(
        F.sum("m23").alias("m2mid"), F.count(F.lit(1)).alias("t2")
    )
    cw = mid.groupBy("w3").agg(F.count(F.lit(1)).alias("n1c"))
    tot = mid.groupBy().agg(F.count(F.lit(1)).alias("ncc"))
    bits = (
        F.length(
            F.bin(
                F.expr(
                    "CAST((CAST(16 AS DECIMAL(38,0)) * c12p * m2mid * ncc)"
                    " div (CAST(greatest(4*c123 - 3, 0) AS DECIMAL(38,0))"
                    "        * 4 * m2mid * ncc"
                    "      + CAST(3 AS DECIMAL(38,0)) * t12"
                    "        * (greatest(4*m23 - 3, 0) * ncc"
                    "           + 3 * t2 * n1c)) AS BIGINT)"
                )
            )
        )
        - 1
    )
    agg = (
        tri.join(c3, ["w1", "w2", "w3"])
        .join(ctx, ["w1", "w2"])
        .join(mid, ["w2", "w3"])
        .join(m2, "w2")
        .join(cw, "w3")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.sum(bits).cast("long").alias("sum_bits"),
            F.count(F.lit(1)).alias("n_trigrams"),
        )
    )
    thr = agg.groupBy().agg(
        F.expr("(1000 * SUM(sum_bits)) div SUM(n_trigrams)").alias("t")
    )
    mean_mb = F.expr("(1000 * sum_bits) div n_trigrams")
    return (
        agg.crossJoin(F.broadcast(thr))
        .select(
            "doc_id", "sum_bits",
            F.col("n_trigrams").cast("long").alias("n_trigrams"),
            mean_mb.cast("long").alias("mean_millibits"),
            (mean_mb <= F.col("t")).alias("keep"),
        )
    )


@register(
    "s_kn3_stats_stream",
    oracle=_KN3_ORACLE,
    survey="N4 X2 X4",
    tags=("streaming",),
)
def s_kn3_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING trigram-LM stats maintenance — the KN gate's count
    pass made incremental: each arriving micro-batch explodes to
    trigrams and lands as an OVERWRITE-idempotent (w1,w2,w3,c123)
    count segment; SegmentStore folds every 2 batches with a key-wise
    re-SUM, so live state is O(trigram types) regardless of uptime.
    Counts are ADDITIVE over any partition of the corpus, so the
    drained c3 equals the one-shot aggregation for ANY slicing — and
    since every derived KN statistic (context totals, continuation
    counts, Ncc) is an aggregation of c3, the post-drain scoring pass
    (`_kn3_score` — the same shared core as the batch gate) hash-
    matches n4_kn3_surprisal_filter's oracle verbatim.

    The 100 TB shape: the LM count tables a continuous ingest keeps
    fresh without re-reading history — new data updates O(batch
    trigram types) state; re-scoring a snapshot is a separate batch
    job, exactly the DSIR-stats contract."""
    return _kn3_stats_stream_run(spark, sf_dir)


def _kn3_stats_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """Runner for s_kn3_stats_stream with crash injection for the
    sweep: the injected crash lands AFTER the count-segment append
    with the checkpoint uncommitted — the bid-gated segment makes the
    recovery replay idempotent (overwrite, not double-count)."""
    import os
    import shutil
    import uuid

    from ..operators import text_analysis as ta
    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_kn3")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("w1", "w2", "w3").agg(
            F.sum("c123").alias("c123")
        ),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )

    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        tri = _kn3_tri(
            batch.select("doc_id", ta.tokens(F.col("text")).alias("tk"))
        )
        store.append(
            tri.groupBy("w1", "w2", "w3")
            .agg(F.count(F.lit(1)).cast("long").alias("c123"))
            .coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    c3 = (
        store.read()
        .groupBy("w1", "w2", "w3")
        .agg(F.sum("c123").alias("c123"))
        .localCheckpoint(eager=True)
    )
    d = load_table(spark, sf_dir, "documents")
    out = _kn3_score(
        _kn3_tri(d.select("doc_id", ta.tokens(F.col("text")).alias("tk"))),
        c3,
    ).localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
