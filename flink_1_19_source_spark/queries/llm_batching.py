"""N6 — training-batch formation beyond greedy packing (SURVEY §2.11).

Length-bucketed batching: the padding-efficiency device every LLM
training loader uses when sequences are padded to the longest in the
batch — group documents into power-of-two token-length buckets, form
fixed-count batches inside each bucket by deterministic hash order, and
report the padding waste.  Fully declarative (no sequential fold, no
UDF): the bucket is integer bit-arithmetic, batch assignment is one
per-bucket rank window, waste is an aggregate — the whole schedule is
one shuffle on the bucket key at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import text_analysis as ta
from ..registry import register
from ..tables import load_table

_BATCH_DOCS = 8


@register(
    "n6_length_bucketed_batches",
    oracle=r"""
    WITH per_doc AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(LOWER(text), '\s+'),
                       t -> t <> '')) AS BIGINT) AS nt
      FROM documents
    ), b AS (
      SELECT doc_id, nt,
             CAST(CASE WHEN nt <= 1 THEN 1
                       ELSE power(2, LENGTH(bin(nt - 1))) END AS BIGINT)
               AS bucket
      FROM per_doc WHERE nt > 0
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY bucket
               ORDER BY md5(CONCAT('batch:', CAST(doc_id AS VARCHAR))),
                        doc_id) AS rk
      FROM b
    )
    SELECT bucket, CAST((rk - 1) // 8 AS BIGINT) AS batch_no,
           COUNT(*) AS n_docs,
           CAST(MAX(nt) AS BIGINT) AS max_nt,
           CAST(COUNT(*) * MAX(nt) AS BIGINT) AS padded_tokens,
           CAST(COUNT(*) * MAX(nt) - SUM(nt) AS BIGINT) AS padding_waste
    FROM r GROUP BY 1, 2
    """,
    survey="N6",
)
def n6_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED batch formation — the padding-efficiency
    schedule for pad-to-longest training: documents land in
    power-of-two token-length buckets (bucket = smallest power of two
    >= n_tokens, computed as 2^bit_length(nt-1) — pure integer bit
    arithmetic, no log/float), batches of 8 form inside each bucket by
    md5 hash rank (the house deterministic-sampling device), and each
    batch reports its padded size and waste (n_docs*max_nt - sum_nt).
    Bucketing bounds per-batch waste to <2x of optimal structurally
    (all lengths in a bucket are within a factor 2); the non-vacuity
    test pins that it actually beats unbucketed hash-order batching on
    this corpus.  One shuffle on the bucket key; at 100 TB the rank
    window is per-bucket and the report is one aggregate."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id", F.size(ta.tokens(F.col("text"))).cast("long").alias("nt")
    ).filter(F.col("nt") > 0)
    bucket = F.when(F.col("nt") <= 1, F.lit(1)).otherwise(
        F.pow(F.lit(2.0), F.length(F.bin(F.col("nt") - 1)).cast("double"))
    ).cast("long")
    b = per_doc.withColumn("bucket", bucket)
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.concat(F.lit("batch:"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    r = b.withColumn("rk", F.row_number().over(w))
    return (
        r.withColumn(
            "batch_no", ((F.col("rk") - 1) / F.lit(_BATCH_DOCS))
            .cast("long")
        )
        .groupBy("bucket", "batch_no")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("nt").cast("long").alias("max_nt"),
            (F.count(F.lit(1)) * F.max("nt")).cast("long")
            .alias("padded_tokens"),
            (F.count(F.lit(1)) * F.max("nt") - F.sum("nt")).cast("long")
            .alias("padding_waste"),
        )
    )


# --------------------------------------------------------------------------
# N6 — UniMax language-budget allocation (closed-form water-filling)
# --------------------------------------------------------------------------
_UNIMAX_EPOCHS = 2   # per-language epoch cap (UniMax's N)
_UNIMAX_BUDGET_DEN = 2  # budget = total corpus tokens // 2

# Shared by the batch operator and the streaming controller — language
# token counts are additive over any corpus slicing, so both replay the
# SAME closed-form SQL and must hash-match each other.
_UNIMAX_ORACLE = f"""
    WITH stats AS (
      SELECT lang,
             CAST(SUM(len(list_filter(
               string_split_regex(LOWER(text), '\\s+'), t -> t <> ''
             ))) AS BIGINT) AS n
      FROM documents GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) // {_UNIMAX_BUDGET_DEN} AS b,
             COUNT(*) AS l FROM stats
    ), ordered AS (
      SELECT lang, n, n * {_UNIMAX_EPOCHS} AS cap,
             ROW_NUMBER() OVER w AS i,
             SUM(n * {_UNIMAX_EPOCHS}) OVER w AS c
      FROM stats WINDOW w AS (ORDER BY n * {_UNIMAX_EPOCHS}, lang
                              ROWS UNBOUNDED PRECEDING)
    ), cond AS (
      SELECT o.*, tot.b, tot.l,
             CASE WHEN o.cap * (tot.l - o.i + 1) <= tot.b - (o.c - o.cap)
                  THEN 1 ELSE 0 END AS ok
      FROM ordered o CROSS JOIN tot
    ), flagged AS (
      SELECT *, MIN(ok) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS fl
      FROM cond
    ), kk AS (
      SELECT CAST(SUM(fl) AS BIGINT) AS k,
             CAST(COALESCE(SUM(cap * fl), 0) AS BIGINT) AS ck
      FROM flagged
    )
    SELECT lang, n AS n_tokens, cap,
           CAST(CASE WHEN fl = 1 THEN cap
                ELSE (b - ck) // (l - k)
                     + CASE WHEN i - k <= (b - ck) % (l - k)
                            THEN 1 ELSE 0 END
           END AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN n = 0 THEN 0 ELSE
                1000 * (CASE WHEN fl = 1 THEN cap
                ELSE (b - ck) // (l - k)
                     + CASE WHEN i - k <= (b - ck) % (l - k)
                            THEN 1 ELSE 0 END END) // n END AS BIGINT)
             AS epochs_millis
    FROM flagged CROSS JOIN kk
    """


@register(
    "n6_unimax_mix",
    oracle=_UNIMAX_ORACLE,
    survey="N6",
)
def n6_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language-budget allocation [Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"]: distribute a token budget across
    languages as uniformly as possible subject to a per-language epoch
    cap — small languages get capped at cap = n_l x 2 epochs
    (never over-repeated), the rest share the remaining budget equally.

    The sequential water-filling loop has a CLOSED FORM over the
    cap-ascending order: a language is capped iff its cap fits the
    fair share of the budget left after all smaller caps
    (cap_i x (L-i+1) <= B - c_(i-1)); the capped set is the maximal
    all-true prefix (one running-MIN window), and the uncapped rest
    split the remainder by integer division with the first
    (B-c_k) %% U languages taking the +1 — every step exact int64, so
    the oracle is an equality, not a tolerance.  The windows run over
    the LANGUAGE table (domain-sized, like every apportionment op in
    the N6 tier); the corpus contributes one token-count aggregate.
    Output: (lang, n_tokens, cap, alloc_tokens, epochs_millis); a zero-token language reports 0 millis (guarded in BOTH engines — integer division by zero is NULL in Spark but an error in DuckDB).
    Budget-conservation (sum alloc == min(B, sum caps)) is test-pinned."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.groupBy("lang").agg(
        F.sum(F.size(ta.tokens(F.col("text")))).cast("long").alias("n")
    )
    return _unimax_alloc(stats)


def _unimax_alloc(stats: DataFrame) -> DataFrame:
    """The closed-form water-filling over a (lang, n) token-count table
    — extracted so the batch operator and the streaming controller run
    the IDENTICAL arithmetic (shared code, shared oracle; they cannot
    drift).  Every window here is over the LANGUAGE table."""
    tot = stats.agg(
        F.expr(f"sum(n) div {_UNIMAX_BUDGET_DEN}").cast("long").alias("b"),
        F.count(F.lit(1)).alias("l"),
    )
    wo = Window.orderBy("cap", "lang")
    ordered = stats.withColumn(
        "cap", (F.col("n") * _UNIMAX_EPOCHS).cast("long")
    ).withColumn("i", F.row_number().over(wo)).withColumn(
        "c",
        F.sum("cap").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cond = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "ok",
        (
            F.col("cap") * (F.col("l") - F.col("i") + 1)
            <= F.col("b") - (F.col("c") - F.col("cap"))
        ).cast("int"),
    )
    wf = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    flagged = cond.withColumn("fl", F.min("ok").over(wf)).localCheckpoint(
        eager=True
    )
    kk = flagged.agg(
        F.sum("fl").cast("long").alias("k"),
        F.coalesce(F.sum(F.col("cap") * F.col("fl")), F.lit(0))
        .cast("long").alias("ck"),
    )
    base = F.expr("(b - ck) div (l - k)")
    plus = F.when(
        F.col("i") - F.col("k") <= F.expr("(b - ck) % (l - k)"), 1
    ).otherwise(0)
    alloc = F.when(F.col("fl") == 1, F.col("cap")).otherwise(base + plus)
    return flagged.crossJoin(F.broadcast(kk)).select(
        "lang",
        F.col("n").alias("n_tokens"),
        "cap",
        alloc.cast("long").alias("alloc_tokens"),
        F.expr(
            "CAST(CASE WHEN n = 0 THEN 0 ELSE"
            " 1000 * (CASE WHEN fl = 1 THEN cap"
            " ELSE (b - ck) div (l - k)"
            " + CASE WHEN i - k <= (b - ck) % (l - k) THEN 1 ELSE 0 END"
            " END) div n END AS BIGINT)"
        ).alias("epochs_millis"),
    )


# --------------------------------------------------------------------------
# N6-S — streaming UniMax re-allocation
# --------------------------------------------------------------------------
@register(
    "s_unimax_mix_stream",
    oracle=_UNIMAX_ORACLE,
    survey="N6 X2 X4",
    tags=("streaming",),
)
def s_unimax_mix_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING UniMax — the language-budget controller made
    incremental (the DSIR/DoReMi at-ingest contract, closing the N6
    mixing tier's last batch-only pair): each arriving micro-batch
    lands its per-language token counts as an OVERWRITE-idempotent
    (lang, n) segment (crash replay re-writes a batch's own rows, never
    another's), SegmentStore folds every 2 batches with a key-wise
    re-SUM so live state is O(languages) regardless of uptime, and
    after the drain the shared closed-form water-filling
    (_unimax_alloc — the batch operator's exact code path) re-allocates
    the budget.  Language token counts are additive over ANY corpus
    slicing, so the drained allocation equals the one-shot batch
    answer — the oracle is n6_unimax_mix's SQL verbatim, hash-matched,
    and slicing-invariance is test-pinned.  At 100 TB this is how a
    multilingual sampler tracks an ingest feed: per-batch work is one
    language-keyed aggregate, the re-allocation reruns on a
    language-sized frame — the corpus is never re-read."""
    return _unimax_stream_run(spark, sf_dir)


def _unimax_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
    chunks: int | None = None,
) -> DataFrame:
    """Runner with crash injection: the crash fires AFTER the count
    segment append with the checkpoint uncommitted — the bid-gated
    overwrite keeps the summing merge double-count-free on replay."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_unimax")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("lang").agg(F.sum("n").alias("n")),
    )
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks or _CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        store.append(
            batch.groupBy("lang")
            .agg(
                F.sum(F.size(ta.tokens(F.col("text"))))
                .cast("long").alias("n")
            )
            .coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    stats = (
        store.read()
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("n"))
    )
    out = _unimax_alloc(stats).localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
