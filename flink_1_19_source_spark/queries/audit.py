"""N7 — per-document pipeline AUDIT TRAIL (provenance/disposition).

The report every production data pipeline ships next to its corpus:
for EVERY input document, which stage removed it — or, if it
survived, how many times the final schedule repeats it.  Attribution
is per-document (a dedup loser names the exact winner it lost to),
which is what an operator debugging "why is my document missing from
the training mix?" actually needs; the per-language attrition counts
of pipeline_crawl_end_to_end are this table's GROUP BY.

Every stage is the corresponding certified operator's shared core
(language id, exact-integer surprisal gate, keep-best priority dedup,
token-budget epoch schedule), so the audit cannot disagree with the
pipeline it audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import text_analysis as ta
from ..registry import register
from ..tables import load_table
from .llm_surprisal import _epoch_doc_repeats, _surprisal_scores_from

_AUDIT_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             MD5(substring(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ',
                                               'g')), 1, 100)) AS fp
      FROM documents
    ), lid AS (
      SELECT doc_id,
        len(list_filter(tk, t -> list_contains(
          ['der','die','und','das','ist','nicht'], t))) AS s_de,
        len(list_filter(tk, t -> list_contains(
          ['the','and','of','to','is','it'], t))) AS s_en,
        len(list_filter(tk, t -> list_contains(
          ['el','los','y','es','una','para'], t))) AS s_es,
        len(list_filter(tk, t -> list_contains(
          ['le','les','et','est','une','pour'], t))) AS s_fr,
        len(list_filter(tk, t -> list_contains(
          ['de5','shi4','le5','zai4','he2','you3'], t))) AS s_zh
      FROM base
    ), langd AS (
      SELECT doc_id,
             CASE GREATEST(s_de, s_en, s_es, s_fr, s_zh)
               WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
               WHEN s_fr THEN 'fr' ELSE 'zh' END AS det_lang
      FROM lid
    ), big AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk))) AS i
            FROM base WHERE len(tk) >= 2)
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY w1
    ), v AS (
      SELECT COUNT(*) AS nv FROM (
        SELECT DISTINCT w1 AS w FROM big
        UNION SELECT DISTINCT w2 FROM big)
    ), scoredoc AS (
      SELECT b.doc_id,
             SUM(LENGTH(bin((c1.n1 + v.nv) // (c2.n2 + 1))) - 1)
               AS sum_bits,
             COUNT(*) AS n_bigrams
      FROM big b
      JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
      GROUP BY b.doc_id
    ), thr AS (
      SELECT (1000 * SUM(sum_bits)) // SUM(n_bigrams) AS t FROM scoredoc
    ), disp1 AS (
      SELECT b.doc_id, l.det_lang, b.tk, b.n_chars, b.fp,
             CASE WHEN len(b.tk) < 2 THEN 'too_short'
                  WHEN (1000 * s.sum_bits) // s.n_bigrams > thr.t
                       THEN 'quality_gate'
             END AS drop1
      FROM base b
      JOIN langd l ON l.doc_id = b.doc_id
      LEFT JOIN scoredoc s ON s.doc_id = b.doc_id
      CROSS JOIN thr
    ), dedup AS (
      SELECT doc_id, fp, det_lang, tk,
             ROW_NUMBER() OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id) AS rk,
             FIRST_VALUE(doc_id) OVER (PARTITION BY fp
                                ORDER BY n_chars DESC, doc_id) AS winner
      FROM disp1 WHERE drop1 IS NULL
    ), per_doc AS (
      SELECT det_lang AS source, doc_id, CAST(len(tk) AS BIGINT) AS nt
      FROM dedup WHERE rk = 1
    ), src AS (
      SELECT source, CAST(SUM(nt) AS BIGINT) AS t_tokens, COUNT(*) AS n_docs
      FROM per_doc GROUP BY source
    ), tot AS (
      SELECT SUM(t_tokens) AS tt, COUNT(*) AS ns FROM src
    ), alloc AS (
      SELECT source, t_tokens,
             LEAST(4, ((4 * tot.tt) // tot.ns) // t_tokens) AS full_epochs,
             CASE WHEN ((4 * tot.tt) // tot.ns) // t_tokens >= 4 THEN 0
                  ELSE ((4 * tot.tt) // tot.ns) % t_tokens
             END AS rem
      FROM src, tot
    ), ranked AS (
      SELECT p.source, p.doc_id, p.nt,
             SUM(p.nt) OVER (
               PARTITION BY p.source
               ORDER BY md5(CONCAT('epoch:', CAST(p.doc_id AS VARCHAR))),
                        p.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS csum
      FROM per_doc p
    ), reps AS (
      SELECT r.doc_id,
             a.full_epochs
             + CASE WHEN r.csum <= a.rem THEN 1 ELSE 0 END AS repeats
      FROM ranked r JOIN alloc a ON a.source = r.source
    )
    SELECT d1.doc_id, d1.det_lang,
           CASE WHEN d1.drop1 IS NOT NULL THEN d1.drop1
                WHEN dd.rk > 1 THEN 'dedup_loser'
                ELSE 'kept' END AS disposition,
           CAST(CASE WHEN dd.rk > 1 THEN dd.winner ELSE -1 END
             AS BIGINT) AS lost_to,
           CAST(COALESCE(reps.repeats, 0) AS BIGINT) AS repeats
    FROM disp1 d1
    LEFT JOIN dedup dd ON dd.doc_id = d1.doc_id
    LEFT JOIN reps ON reps.doc_id = d1.doc_id
"""


@register(
    "pipeline_audit_trail",
    oracle=_AUDIT_ORACLE,
    survey="N7 N4 N1 N6",
)
def pipeline_audit_trail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DOCUMENT audit of the quality→dedup→schedule chain: every
    input document gets a disposition — 'too_short' (no bigrams for
    the gate to score), 'quality_gate' (mean surprisal above the
    corpus threshold), 'dedup_loser' (lost its prefix-fingerprint
    group to the named winner — lost_to carries the exact doc_id, the
    attribution a missing-document investigation needs; -1 otherwise),
    or 'kept' with its REPEAT count under the token-budget epoch
    schedule (full epochs of its language + 1 if the doc lands in the
    hash-ranked partial epoch).  Stage logic is the certified shared
    cores (_surprisal_scores_from, the keep-best window,
    _epoch_doc_repeats), so audit and pipeline cannot drift.  100 TB
    shape: identical to the pipeline it audits — the only additions
    are per-row CASE columns and one broadcast of the domain-sized
    allocation table; the audit is the pipeline's own plan with the
    drops kept instead of filtered."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        ta.lang_id(F.col("text")).alias("det_lang"),
        ta.tokens(F.col("text")).alias("tk"),
        F.length("text").cast("long").alias("n_chars"),
        F.md5(F.substring(ta.normalize(F.col("text")), 1, 100)).alias("fp"),
    ).localCheckpoint(eager=True)

    scores = _surprisal_scores_from(base.select("doc_id", "tk"))
    disp1 = (
        base.join(scores.select("doc_id", "keep"), "doc_id", "left")
        .select(
            "doc_id", "det_lang", "tk", "n_chars", "fp",
            F.when(F.size("tk") < 2, F.lit("too_short"))
            .when(~F.col("keep"), F.lit("quality_gate"))
            .alias("drop1"),
        )
    )
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    dedup = (
        disp1.filter(F.col("drop1").isNull())
        .withColumn("rk", F.row_number().over(w))
        .withColumn("winner", F.first("doc_id").over(w))
        .select("doc_id", "det_lang", "tk", "rk", "winner")
    )
    per_doc = dedup.filter(F.col("rk") == 1).select(
        F.col("det_lang").alias("source"),
        "doc_id",
        F.size("tk").cast("long").alias("nt"),
    )
    reps = _epoch_doc_repeats(per_doc)
    return (
        disp1.join(
            dedup.select("doc_id", "rk", "winner"), "doc_id", "left"
        )
        .join(reps, "doc_id", "left")
        .select(
            "doc_id", "det_lang",
            F.when(F.col("drop1").isNotNull(), F.col("drop1"))
            .when(F.col("rk") > 1, F.lit("dedup_loser"))
            .otherwise(F.lit("kept"))
            .alias("disposition"),
            F.when(F.col("rk") > 1, F.col("winner"))
            .otherwise(F.lit(-1)).cast("long").alias("lost_to"),
            F.coalesce("repeats", F.lit(0)).cast("long").alias("repeats"),
        )
    )


# --------------------------------------------------------------------------
# N7 — the corpus DATA CARD: per-source statistics sheet
# --------------------------------------------------------------------------
@register(
    "pipeline_data_card",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(len(list_filter(string_split_regex(LOWER(text), '\s+'),
                                  t -> t <> '')) AS BIGINT) AS nt,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk,
             MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ), firsts AS (
      SELECT fp, MIN(doc_id) AS first_id FROM base GROUP BY fp
    ), big AS (
      SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
      FROM (SELECT doc_id, tk, UNNEST(range(1, len(tk))) AS i
            FROM base WHERE len(tk) >= 2)
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS n2 FROM big GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, SUM(n2) AS n1 FROM c2 GROUP BY w1
    ), v AS (
      SELECT COUNT(*) AS nv FROM (
        SELECT DISTINCT w1 AS w FROM big
        UNION SELECT DISTINCT w2 FROM big)
    ), scored AS (
      SELECT b.doc_id,
             LENGTH(bin((c1.n1 + v.nv) // (c2.n2 + 1))) - 1 AS bits
      FROM big b
      JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
      JOIN c1 ON b.w1 = c1.w1
      CROSS JOIN v
    ), agg AS (
      SELECT doc_id, SUM(bits) AS sum_bits, COUNT(*) AS n_bigrams
      FROM scored GROUP BY doc_id
    ), thr AS (
      SELECT (1000 * SUM(sum_bits)) // SUM(n_bigrams) AS t FROM agg
    ), flags AS (
      SELECT b.doc_id, b.source, b.lang, b.nt,
             b.doc_id <> f.first_id AS is_dup,
             a.doc_id IS NULL AS is_short,
             CASE WHEN a.doc_id IS NULL THEN NULL
                  ELSE (1000 * a.sum_bits) // a.n_bigrams <= thr.t
             END AS keep
      FROM base b
      JOIN firsts f ON f.fp = b.fp
      LEFT JOIN agg a ON a.doc_id = b.doc_id
      CROSS JOIN thr
    ), med AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY nt, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS nc
      FROM flags
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(MAX(CASE WHEN rn = (nc + 1) // 2 THEN nt END) AS BIGINT)
             AS median_nt,
           CAST(SUM(CASE WHEN is_short THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short,
           CAST(SUM(CASE WHEN keep = false THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quality_fail,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup,
           CAST(SUM(CASE WHEN NOT is_dup AND keep = true
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
    FROM med GROUP BY source
    """,
    survey="N1 N4 N7",
)
def pipeline_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATA CARD — the per-source statistics sheet published
    next to a training corpus (the "data card" convention of corpus
    releases: per source, how much is there, in which languages, and
    how much survives cleaning).  EIGHTH composite; every column is a
    certified shared core so the card cannot disagree with the
    pipeline it summarizes:

    - ``n_docs`` / ``n_langs`` / ``total_tokens`` / ``median_nt`` —
      volume and the (lower-)median document length in tokens, exact
      by rank rather than an approximate percentile sketch.
    - ``n_short`` — docs with <2 tokens (no bigram evidence; the same
      exclusion the surprisal gate applies).
    - ``n_quality_fail`` — scored docs failing the exact-integer
      surprisal gate (`_surprisal_scores_from`).
    - ``n_exact_dup`` — docs that are NOT the corpus-first of their
      normalized-text fingerprint group (n1_fingerprint_dedup's
      digest; winner attribution crosses sources, as in the audit
      trail).  Independent tallies: a duplicate can also fail quality.
    - ``n_clean`` — corpus-first AND gate-passing: the rows a training
      mix would actually draw.

    One read of the corpus; the card is two shuffles (fingerprint key,
    then source) plus the gate's bigram join — at 100 TB each column
    is the already-certified operator's plan, and the final GROUP BY
    source is 20 rows."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id", "source", "lang",
        ta.tokens(F.col("text")).alias("tk"),
        ta.fingerprint(F.col("text")).alias("fp"),
    ).withColumn("nt", F.size("tk").cast("long"))
    firsts = base.groupBy("fp").agg(F.min("doc_id").alias("first_id"))
    scores = _surprisal_scores_from(base.select("doc_id", "tk")).select(
        "doc_id", "keep"
    )
    flags = (
        base.join(firsts, "fp")
        .join(scores, "doc_id", "left")
        .select(
            "doc_id", "source", "lang", "nt",
            (F.col("doc_id") != F.col("first_id")).alias("is_dup"),
            F.col("keep").isNull().alias("is_short"),
            "keep",
        )
    )
    wm = Window.partitionBy("source").orderBy("nt", "doc_id")
    wc = Window.partitionBy("source")
    med = flags.withColumn("rn", F.row_number().over(wm)).withColumn(
        "nc", F.count(F.lit(1)).over(wc)
    )
    return med.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("nt").cast("long").alias("total_tokens"),
        F.max(
            F.when(F.col("rn") == F.expr("(nc + 1) div 2"), F.col("nt"))
        ).cast("long").alias("median_nt"),
        F.sum(F.when(F.col("is_short"), 1).otherwise(0)).cast("long")
        .alias("n_short"),
        F.sum(F.when(F.col("keep") == False, 1).otherwise(0))  # noqa: E712
        .cast("long").alias("n_quality_fail"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).cast("long")
        .alias("n_exact_dup"),
        F.sum(
            F.when((~F.col("is_dup")) & (F.col("keep") == True), 1)  # noqa: E712
            .otherwise(0)
        ).cast("long").alias("n_clean"),
    )


# --------------------------------------------------------------------------
# N7-S — streaming data card maintenance at ingest
# --------------------------------------------------------------------------
@register(
    "s_data_card_stream",
    oracle=r"""
    WITH base AS (
      SELECT doc_id, source, lang,
             CAST(len(list_filter(string_split_regex(LOWER(text), '\s+'),
                                  t -> t <> '')) AS BIGINT) AS nt,
             MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ), firsts AS (
      SELECT fp, MIN(doc_id) AS first_id FROM base GROUP BY fp
    )
    SELECT b.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT b.lang) AS BIGINT) AS n_langs,
           CAST(SUM(b.nt) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN b.doc_id <> f.first_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup
    FROM base b JOIN firsts f ON f.fp = b.fp
    GROUP BY b.source
    """,
    survey="N1-S N7 X2 X4",
    tags=("streaming",),
)
def s_data_card_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-card maintenance — the card's additive columns
    kept fresh at ingest without ever re-reading history.  Two segment
    families per micro-batch, both OVERWRITE-idempotent (the X4
    pattern of the CMS/LSH/IVF ingest tier):

    - stats segments: per-(source, lang) doc/token counts — sums are
      additive, so the drained fold equals the one-shot aggregation
      for ANY slicing;
    - fingerprint segments: per-(fp, source) (min doc_id, copies) —
      min and count are additive too, and at drain time the
      corpus-first OWNER of each fingerprint is the source holding the
      global min, so per-source duplicate attribution is exact and
      slicing-invariant (the same winner convention as the batch card
      and the audit trail).

    The gate columns (n_short / n_quality_fail) are deliberately
    absent: the surprisal gate is corpus-global (its threshold and LM
    counts are not additive), so a streaming card reports the additive
    sheet and quality stays a batch pass over whatever snapshot needs
    it — the card's oracle is the closed-form subset the batch
    composite also certifies.  SegmentStore folds every 2 batches keep
    live state O(sources x langs + distinct fingerprints)."""
    return _data_card_stream_run(spark, sf_dir)


def _data_card_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """Runner for s_data_card_stream with crash injection for the
    sweep: the injected crash lands BETWEEN the two store appends
    (stats carry the batch, fingerprints do not — the torn-state
    window), and bid-gated segments make the recovery replay
    idempotent."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_datacard")
    run = uuid.uuid4().hex[:8]
    stats_store = SegmentStore(
        spark, os.path.join(wd, f"stats-{run}"), compact_every=2,
        merge=lambda df: df.groupBy("source", "lang").agg(
            F.sum("docs").alias("docs"), F.sum("tokens").alias("tokens")
        ),
    )
    fp_store = SegmentStore(
        spark, os.path.join(wd, f"fp-{run}"), compact_every=2,
        merge=lambda df: df.groupBy("fp", "source").agg(
            F.min("min_id").alias("min_id"), F.sum("copies").alias("copies")
        ),
    )
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        base = batch.select(
            "doc_id", "source", "lang",
            F.size(ta.tokens(F.col("text"))).cast("long").alias("nt"),
            ta.fingerprint(F.col("text")).alias("fp"),
        )
        stats_store.append(
            base.groupBy("source", "lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("docs"),
                F.sum("nt").cast("long").alias("tokens"),
            )
            .coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError("injected crash between store appends")
        fp_store.append(
            base.groupBy("fp", "source")
            .agg(
                F.min("doc_id").alias("min_id"),
                F.count(F.lit(1)).cast("long").alias("copies"),
            )
            .coalesce(1),
            bid,
        )

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    stats = (
        stats_store.read()
        .groupBy("source", "lang")
        .agg(F.sum("docs").alias("docs"), F.sum("tokens").alias("tokens"))
    )
    fps = (
        fp_store.read()
        .groupBy("fp", "source")
        .agg(F.min("min_id").alias("min_id"), F.sum("copies").alias("copies"))
    )
    wfp = Window.partitionBy("fp")
    owned = fps.withColumn("gmin", F.min("min_id").over(wfp)).select(
        "source",
        "copies",
        # the source owning the corpus-first doc spends one of its
        # copies on the winner; every other copy is a duplicate
        F.when(F.col("min_id") == F.col("gmin"), F.col("copies") - 1)
        .otherwise(F.col("copies"))
        .alias("dups"),
    )
    dup = owned.groupBy("source").agg(
        F.sum("dups").cast("long").alias("n_exact_dup")
    )
    card = stats.groupBy("source").agg(
        F.sum("docs").cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("tokens").cast("long").alias("total_tokens"),
    )
    out = (
        card.join(dup, "source")
        .select(
            "source", "n_docs", "n_langs", "total_tokens", "n_exact_dup"
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(os.path.join(wd, f"stats-{run}"), ignore_errors=True)
    shutil.rmtree(os.path.join(wd, f"fp-{run}"), ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
