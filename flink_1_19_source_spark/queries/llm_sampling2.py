"""N6 — EXACT-k per-stratum uniform sampling (bottom-k hash priority),
batch + streaming.

The rate-gate sampler (n6_stratified_sample) keeps a *proportion*; eval
sets and ablation corpora need an exact COUNT — "exactly k documents
per language, uniformly, reproducibly".  The classical streaming answer
is reservoir sampling, but a reservoir is order-dependent and
non-replayable; the equivalent with all the house properties is
BOTTOM-k BY HASH PRIORITY [Cohen & Kaplan 2007, "Summarizing data
using bottom-k sketches"]: priority = md5(salt‖doc_id), keep each
stratum's k smallest.  That is a uniform without-replacement sample,
deterministic across engines/partitionings, and MERGEABLE — bottom-k
of a union equals bottom-k of the per-slice bottom-ks — which is
exactly what makes the streaming twin slicing-invariant with O(k ×
languages) state.

Distinct from the theta/KMV sketch tier: same bottom-k device, but the
output here IS the sample rows (a training/eval artifact), not a
cardinality estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_K_PER_LANG = 20

_EXACT_K_ORACLE = f"""
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS smp_rank FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5('ks:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM documents
    ) WHERE rk <= {_K_PER_LANG}
    """


def _bottom_k(df: DataFrame, k: int = _K_PER_LANG) -> DataFrame:
    """Per-language bottom-k by md5 priority; emits (doc_id, lang,
    smp_rank).  The rank window partitions by lang — never global."""
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    return (
        df.select(
            "doc_id",
            "lang",
            F.md5(F.concat(F.lit("ks:"), F.col("doc_id").cast("string")))
            .alias("pri"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


@register("n6_exact_k_sample", oracle=_EXACT_K_ORACLE, survey="N6")
def n6_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-language uniform sample (see module docstring).
    100 TB shape: one lang-keyed shuffle into a per-stratum rank
    window; skewed strata stay bounded because only k rows survive per
    partition and Spark's window TopK pushes the limit into the sort.
    Strata smaller than k are kept whole (rank ≤ k), the documented
    small-stratum semantics."""
    d = load_table(spark, sf_dir, "documents")
    return _bottom_k(d).select(
        "doc_id", "lang", F.col("rk").cast("long").alias("smp_rank")
    )


@register(
    "s_exact_k_sample_stream",
    oracle=_EXACT_K_ORACLE,
    survey="N6 X2 X4",
    tags=("streaming",),
)
def s_exact_k_sample_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact-k sample maintenance: every micro-batch appends
    its per-language LOCAL bottom-k (an overwrite-idempotent segment,
    ≤ k × languages rows), SegmentStore compaction re-takes the
    per-language bottom-k over accumulated candidates, and the
    post-drain fold yields the identical sample the one-shot batch
    operator produces — bottom-k mergeability makes the result provably
    independent of batch slicing, and the oracle is the batch SQL
    verbatim.  At 100 TB: per-batch work is one lang-keyed rank over
    the batch, live state is O(k × languages), and no corpus re-read
    ever happens."""
    return _exact_k_stream_run(spark, sf_dir)


def _exact_k_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    chunks: int | None = None,
) -> DataFrame:
    """Runner with crash injection AFTER the segment append (checkpoint
    uncommitted) — bid-gated overwrite keeps the fold duplicate-free on
    replay."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    def take_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("lang").orderBy("pri", "doc_id")
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _K_PER_LANG)
            .select("doc_id", "lang", "pri")
        )

    wd = _work_dir(sf_dir, "s_exact_k")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(spark, seg_dir, compact_every=2, merge=take_k)
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks or _CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(batch, bid: int) -> None:
        cand = batch.select(
            "doc_id",
            "lang",
            F.md5(F.concat(F.lit("ks:"), F.col("doc_id").cast("string")))
            .alias("pri"),
        )
        store.append(take_k(cand).coalesce(1), bid)
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    out = (
        store.read()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _K_PER_LANG)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("smp_rank"))
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
