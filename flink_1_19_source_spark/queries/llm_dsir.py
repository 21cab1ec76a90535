"""N6-tier data-selection queries (SURVEY §2.11): DSIR importance
resampling (hashed-n-gram cross-difference weights), its end-to-end
pipeline composite and streaming stats maintenance, and the
char-diversity Gini quality signal.  Split out of llm3.py (r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..registry import register
from ..tables import load_table


# --------------------------------------------------------------------------
# N6 — DSIR-style hashed-n-gram importance resampling
# --------------------------------------------------------------------------
_DSIR_BUCKETS = 1024


def _dsir_bt(d: DataFrame) -> DataFrame:
    """(doc_id, lang, b): one row per token occurrence, hashed into its
    DSIR bucket — the shared tokenize+bucket pass."""
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
            )
        ).alias("t"),
    )
    bucket = (
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    return tok.select("doc_id", "lang", bucket.alias("b"))


def _dsir_bucket_stats(bt: DataFrame) -> DataFrame:
    """Per-bucket (b, rc, tc) counts — ADDITIVE across any partition of
    the corpus, which is what the streaming stats maintenance sums."""
    return bt.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("tc"),
    )


def _dsir_weights(spark: SparkSession, stats_rows) -> DataFrame:
    """Derive tt/rt and the integer cross-difference weights driver-side
    from collected (b, rc, tc) bucket stats — ≤ _DSIR_BUCKETS rows."""
    tt = sum(r["tc"] for r in stats_rows)
    rt = sum(r["rc"] for r in stats_rows)
    return spark.createDataFrame(
        [(r["b"], r["tc"] * rt - r["rc"] * tt) for r in stats_rows],
        "b long, w long",
    )


def _dsir_score_with_stats(bt: DataFrame, stats_rows) -> DataFrame:
    """Finish DSIR from collected bucket stats: broadcast the weights,
    score per document."""
    weights = _dsir_weights(bt.sparkSession, stats_rows)
    return (
        bt.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("w").cast("long").alias("score"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def _dsir_rank(scored: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    rank_w = Window.partitionBy(F.col("score") > 0).orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return scored.select(
        "doc_id",
        "lang",
        "score",
        "n_tokens",
        (F.col("score") > 0).alias("keep"),
        F.when(
            F.col("score") > 0, F.row_number().over(rank_w).cast("long")
        ).alias("sample_rank"),
    )


def _dsir_scored(d: DataFrame) -> DataFrame:
    """The DSIR scoring core: (doc_id, lang, score, n_tokens) with the
    exact-integer cross-difference weights — shared by n6_dsir_resample
    and the pipeline composite.

    r13 shape: the corpus is tokenized exactly ONCE.  The token-
    occurrence rows collapse to per-(doc, bucket) counts first — the
    map-side partial aggregation compresses before the wire, and the
    checkpointed frame is bounded by docs x _DSIR_BUCKETS rows (the
    doc-granular-decision posture, orders of magnitude below token
    volume) — then the stats pass (collected once, ≤ _DSIR_BUCKETS
    rows) and the scoring pass both read the counts.  The score is
    bit-identical to the former tokenize-twice form: Σ_tokens w(b) =
    Σ_buckets w(b)·cnt(doc, b), exact int64 with no rounding anywhere,
    and n_tokens = Σ cnt (pinned in tests/test_r13_ops.py)."""
    db = (
        _dsir_bt(d)
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    stats_rows = (
        db.groupBy("b")
        .agg(
            F.sum("cnt").alias("rc"),
            F.coalesce(
                F.sum(F.when(F.col("lang") == "en", F.col("cnt"))),
                F.lit(0),
            ).alias("tc"),
        )
        .collect()
    )
    weights = _dsir_weights(d.sparkSession, stats_rows)
    return (
        db.join(F.broadcast(weights), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum(F.col("w") * F.col("cnt")).cast("long").alias("score"),
            F.sum("cnt").cast("long").alias("n_tokens"),
        )
    )


_DSIR_RESAMPLE_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang,
             UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                                t -> t <> '')) AS t
      FROM documents
    ), bt AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
      FROM tok
    ), target AS (
      SELECT b, COUNT(*) AS tc FROM bt WHERE lang = 'en' GROUP BY b
    ), raw AS (
      SELECT b, COUNT(*) AS rc FROM bt GROUP BY b
    ), totals AS (
      SELECT (SELECT SUM(tc) FROM target) AS tt,
             (SELECT SUM(rc) FROM raw) AS rt
    ), scored AS (
      SELECT bt.doc_id, bt.lang,
             SUM(COALESCE(target.tc, 0) * totals.rt
                 - raw.rc * totals.tt) AS score,
             COUNT(*) AS n_tokens
      FROM bt
      LEFT JOIN target ON target.b = bt.b
      JOIN raw ON raw.b = bt.b
      CROSS JOIN totals
      GROUP BY bt.doc_id, bt.lang
    )
    SELECT doc_id, lang, CAST(score AS BIGINT) AS score,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           score > 0 AS keep,
           CAST(CASE WHEN score > 0 THEN
                  ROW_NUMBER() OVER (PARTITION BY (score > 0)
                                     ORDER BY score DESC, doc_id)
                ELSE NULL END AS BIGINT) AS sample_rank
    FROM scored
    """


@register(
    "n6_dsir_resample",
    oracle=_DSIR_RESAMPLE_ORACLE,
    survey="N6 N4",
)
def n6_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-flavored importance resampling [Xie et al. 2023, Data
    Selection for Language Models via Importance Resampling]: documents
    are scored by how target-like their hashed-n-gram feature profile is,
    then the over-represented ones are kept/ranked for resampling.

    Engine-exact variant: instead of log-probability ratios (libm-
    dependent), the per-bucket weight is the INTEGER cross-difference
    ``target_count·raw_total − raw_count·target_total`` — positive iff
    the bucket is over-represented in the target distribution (here:
    lang='en' docs), and a document's score is the exact BIGINT sum of
    its token-occurrence weights.  Rank order equals the rational-
    arithmetic ratio ranking; nothing floats, so both engines agree
    bit-for-bit.

    Scale shape: tokens hash into 1024 buckets, the
    target/raw count tables are O(buckets) and broadcast into the
    per-token join; the corpus shuffles once on the bucket id.  At
    100 TB the count tables are a side output of the same scan,
    refreshed per snapshot — no per-doc state anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    return _dsir_rank(_dsir_scored(d))


# --------------------------------------------------------------------------
# N7 — composite: DSIR gate → winnow-overlap dedup → quantile report
# --------------------------------------------------------------------------
def _pipeline_dsir_oracle() -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, lang,
             UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                                t -> t <> '')) AS t
      FROM documents
    ), bt AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
               % {_DSIR_BUCKETS} AS b
      FROM tok
    ), target AS (
      SELECT b, COUNT(*) AS tc FROM bt WHERE lang = 'en' GROUP BY b
    ), raw AS (
      SELECT b, COUNT(*) AS rc FROM bt GROUP BY b
    ), totals AS (
      SELECT (SELECT SUM(tc) FROM target) AS tt,
             (SELECT SUM(rc) FROM raw) AS rt
    ), scored AS (
      SELECT bt.doc_id, bt.lang,
             SUM(COALESCE(target.tc, 0) * totals.rt
                 - raw.rc * totals.tt) AS score
      FROM bt
      LEFT JOIN target ON target.b = bt.b
      JOIN raw ON raw.b = bt.b
      CROSS JOIN totals
      GROUP BY bt.doc_id, bt.lang
    ), keep AS (
      SELECT doc_id, lang FROM scored WHERE score > 0
    ), pos AS (
      SELECT d.doc_id, LOWER(d.text) AS t,
             GREATEST(LEN(LOWER(d.text)) - 7, 1) AS n,
             UNNEST(generate_series(1, GREATEST(LEN(LOWER(d.text)) - 7, 1)))
               AS i
      FROM documents d JOIN keep k ON k.doc_id = d.doc_id
    ), h AS (
      SELECT doc_id, i, n,
             CAST(concat('0x', substr(md5(substr(t, CAST(i AS INTEGER), 8)),
                                      1, 8)) AS BIGINT) AS hv
      FROM pos
    ), wm AS (
      SELECT doc_id, i, n,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
      FROM h
    ), fset0 AS (
      SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n - 15
    ), fdf AS (
      SELECT fp, COUNT(*) AS df FROM fset0 GROUP BY fp
    ), fset AS (
      -- stop-fingerprint cap (df <= 64): hot fingerprints carry no
      -- near-dup signal and send the self-join quadratic — same rule as
      -- stop_shingle_df_cap, applied identically on both engines
      SELECT fset0.doc_id, fset0.fp FROM fset0
      JOIN fdf ON fdf.fp = fset0.fp WHERE fdf.df <= 64
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM fset GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM fset a JOIN fset b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), dropped AS (
      SELECT DISTINCT id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_shared AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.5
    ), final AS (
      SELECT k.doc_id, k.lang FROM keep k
      LEFT JOIN dropped dr ON dr.id_b = k.doc_id
      WHERE dr.id_b IS NULL
    ), chars AS (
      SELECT f.doc_id, f.lang, d.n_chars
      FROM final f JOIN documents d ON d.doc_id = f.doc_id
    ), pri AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT), doc_id) AS rn
      FROM chars
    ), g AS (
      SELECT lang, ARRAY_AGG(n_chars ORDER BY n_chars) AS vs, COUNT(*) AS n
      FROM pri WHERE rn <= 50 GROUP BY lang
    ), n_in AS (
      SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
    ), n_dsir AS (
      SELECT lang, COUNT(*) AS c FROM keep GROUP BY lang
    ), n_final AS (
      SELECT lang, COUNT(*) AS c FROM final GROUP BY lang
    )
    SELECT g.lang,
           CAST(n_in.c AS BIGINT) AS n_in,
           CAST(n_dsir.c AS BIGINT) AS n_after_dsir,
           CAST(n_final.c AS BIGINT) AS n_after_dedup,
           CAST(g.vs[CAST(FLOOR(0.5 * (g.n - 1)) AS BIGINT) + 1]
                AS BIGINT) AS est_p50_chars
    FROM g
    JOIN n_in ON n_in.lang = g.lang
    JOIN n_dsir ON n_dsir.lang = g.lang
    JOIN n_final ON n_final.lang = g.lang
    """


@register(
    "pipeline_dsir_end_to_end",
    oracle=_pipeline_dsir_oracle(),
    survey="N7 N6 N2 A9",
)
def pipeline_dsir_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third end-to-end pipeline composite, built from THIS wave's
    certified operators in one oracled query: (1) DSIR importance gate
    (keep score > 0), (2) winnowing-overlap dedup among survivors (drop
    any doc sharing ≥ 50% of the smaller fingerprint set with an
    earlier survivor), (3) per-language report with a bottom-k quantile
    sketch of the surviving length distribution — per-stage attrition
    visible as n_in → n_after_dsir → n_after_dedup.  Every stage is the
    same code its standalone query certifies (_dsir_scored,
    winnow_fingerprints, bottomk); the composition itself is what this
    query proves."""
    from ..operators import sketches
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents")
    # keep and fset each feed several DAG branches (attrition counts,
    # anti-join, self-join, sizes); localCheckpoint materializes the
    # doc-level intermediates ONCE so the corpus-wide scoring and
    # winnowing passes don't re-run per branch — at 100 TB these are
    # the two passes worth persisting (both outputs are doc-granular,
    # orders of magnitude smaller than the corpus text)
    keep = (
        _dsir_scored(d)
        .filter(F.col("score") > 0)
        .select("doc_id", "lang")
        .localCheckpoint()
    )
    survivors = d.join(keep.select("doc_id"), "doc_id")
    fset = (
        ta.winnow_fingerprints(survivors, "doc_id", "text", k=8, w=16)
        .select("id", "fp")
        .distinct()
        .localCheckpoint()
    )
    # stop-fingerprint cap: drop fps with df > 64 BEFORE the self-join
    # (semi-join on the same shuffle key) — bounds the pair fan-out at
    # n_fps x 64^2; hot fingerprints carry no near-dup signal
    rare = (
        fset.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 64)
        .select("fp")
    )
    fset = fset.join(rare, "fp", "left_semi")
    sizes = fset.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = fset.alias("a")
    b = fset.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    dropped = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("n_shared") / F.least("sz_a", "sz_b") >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    # `final` hides the winnowing SELF-JOIN behind it and feeds two
    # branches (the quantile sketch chain and the n_after_dedup count);
    # checkpointing the doc-id-sized survivor set (r12) keeps the
    # pair-join from executing once per branch — the before plan held
    # 36 SortMergeJoins / 68 Exchanges with no reuse
    final = keep.join(dropped, "doc_id", "left_anti").localCheckpoint(
        eager=True
    )
    chars = final.join(d.select("doc_id", "n_chars"), "doc_id")
    samp = sketches.bottomk_sample(chars, "lang", "n_chars", "doc_id", k=50)
    est = sketches.bottomk_quantiles(samp, "lang", "n_chars", quantiles=(0.5,))
    n_in = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_in"))
    n_dsir = keep.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after_dsir"))
    n_final = final.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after_dedup"))
    return (
        est.join(n_in, "lang")
        .join(n_dsir, "lang")
        .join(n_final, "lang")
        .select(
            "lang", "n_in", "n_after_dsir", "n_after_dedup",
            F.col("est_p50").cast("long").alias("est_p50_chars"),
        )
    )


# --------------------------------------------------------------------------
# N4 — character-diversity quality signal (entropy-free, engine-exact)
# --------------------------------------------------------------------------
@register(
    "n4_char_diversity",
    oracle="""
    WITH ch AS (
      SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '')) AS c
      FROM documents WHERE doc_id < 300
    ), cnt AS (
      SELECT doc_id, c, COUNT(*) AS n FROM ch WHERE c <> '' GROUP BY doc_id, c
    ), agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
             CAST(SUM(n) AS BIGINT) AS n_chars,
             CAST(SUM(n * n) AS BIGINT) AS sum_sq,
             CAST(MAX(n) AS BIGINT) AS top_char_n
      FROM cnt GROUP BY doc_id
    )
    SELECT doc_id, n_distinct_chars, n_chars,
           1.0 - CAST(sum_sq AS DOUBLE) / (n_chars * n_chars) AS char_gini,
           CAST(top_char_n AS DOUBLE) / n_chars AS top_char_frac
    FROM agg
    """,
    survey="N4",
)
def n4_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-diversity quality signal, entropy without logarithms:
    Gini impurity 1 − Σ(cᵢ/n)² over the character histogram plus the
    top-character mass — rational arithmetic only (one double division
    per measure), so both engines agree bit-for-bit where a Shannon
    entropy would drift in the last ulp of libm's log.  Low diversity /
    high top-char mass flags degenerate or repetitive documents — the
    cheap first-pass gate before the heavier repetition signals
    (n4_repetition_signals).  Map-side explode + one shuffle on doc_id."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ch = d.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), "")).alias("c"),
    ).filter(F.col("c") != "")
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n"))
    agg = cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.sum("n").cast("long").alias("n_chars"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("sum_sq"),
        F.max("n").cast("long").alias("top_char_n"),
    )
    return agg.select(
        "doc_id",
        "n_distinct_chars",
        "n_chars",
        (
            F.lit(1.0)
            - F.col("sum_sq").cast("double")
            / (F.col("n_chars") * F.col("n_chars"))
        ).alias("char_gini"),
        (F.col("top_char_n").cast("double") / F.col("n_chars")).alias(
            "top_char_frac"
        ),
    )


@register(
    "s_dsir_stats_stream",
    oracle=_DSIR_RESAMPLE_ORACLE,
    survey="N6 X2 X4",
    tags=("streaming",),
)
def s_dsir_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DSIR stats maintenance — the heaviest pipeline's stats
    pass made incremental: each arriving micro-batch of documents folds
    into per-bucket (rc, tc) counts and lands as an OVERWRITE-idempotent
    epoch segment (counts are additive, not idempotent — exactly-once
    rides on the per-batch segment paths, the same X4 pattern as the
    CMS/LSH/IVF ingest tier).  The drained stats are the bucket-wise SUM
    of segments, which equals the one-shot corpus aggregation for any
    slicing, so the final scoring pass (weights derived driver-side,
    broadcast, one corpus join) hash-matches n6_dsir_resample's batch
    oracle verbatim.  The 100 TB shape: the importance-weight tables a
    continuous ingest keeps fresh without ever re-reading history — new
    data updates O(buckets) state, re-scoring is a separate batch job on
    whatever snapshot needs it.  Epoch segments fold through a
    SegmentStore every 2 batches with a bucket-wise re-SUM, so live
    state is O(buckets) files-and-rows regardless of uptime (sums are
    additive; the store's skip-on-replayed-compacted-batch rule keeps
    them exactly-once under crash replay)."""
    import os
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_dsir")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("b").agg(
            F.sum("rc").alias("rc"), F.sum("tc").alias("tc")
        ),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )

    def fold(batch, bid: int) -> None:
        store.append(_dsir_bucket_stats(_dsir_bt(batch)).coalesce(1), bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    stats = (
        store.read()
        .groupBy("b")
        .agg(F.sum("rc").alias("rc"), F.sum("tc").alias("tc"))
        .collect()
    )
    d = load_table(spark, sf_dir, "documents")
    return _dsir_rank(_dsir_score_with_stats(_dsir_bt(d), stats))


# --------------------------------------------------------------------------
# N6 — largest-remainder quota mixing (Hare apportionment)
# --------------------------------------------------------------------------
# Shared by the batch operator and the streaming controller — language
# doc counts are additive over any corpus slicing, so both replay the
# SAME apportionment SQL and must hash-match each other.
_QUOTA_ORACLE = """
    WITH c AS (
      SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, cnt, CAST(FLOOR(SQRT(cnt)) AS BIGINT) AS wt FROM c
    ), tot AS (
      SELECT SUM(wt) AS tw,
             (SELECT COUNT(*) // 2 FROM documents) AS budget
      FROM w
    ), q AS (
      SELECT lang, cnt, (budget * wt) // tw AS q0,
             (budget * wt) % tw AS rem, budget
      FROM w, tot
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
             budget - SUM(q0) OVER () AS leftover
      FROM q
    ), quota AS (
      SELECT lang,
             LEAST(q0 + CASE WHEN rk <= leftover THEN 1 ELSE 0 END,
                   cnt) AS quota
      FROM r
    ), ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR))) AS hrk
      FROM documents
    )
    SELECT ranked.doc_id, ranked.lang
    FROM ranked JOIN quota ON ranked.lang = quota.lang
    WHERE hrk <= quota
    """


@register(
    "n6_quota_mix",
    oracle=_QUOTA_ORACLE,
    survey="N6",
)
def n6_quota_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hare) quota apportionment for corpus mixing —
    the EXACT-count counterpart of n6_temperature_mix's rate gates: a
    fixed token/doc budget (here corpus//2, data-derived) is split
    across languages proportionally to sqrt(count) weights using pure
    integer arithmetic — floor quotas, then the leftover seats go to
    the largest remainders (tie-break lang asc) — so the output sizes
    are bit-determined, never rate-rounded.  FLOOR(SQRT(n)) is safe
    cross-engine: IEEE 754 requires sqrt correctly rounded, so both
    engines floor the same double.  Selection within a language is the
    quota smallest md5('mix:'||doc_id) hashes — deterministic,
    engine-reproducible, no RNG.  100 TB shape: the apportionment runs
    on the per-language count table (5 rows here, thousands at worst);
    the corpus pays one lang-partitioned hash-rank window — and when
    quotas are per-partition writable, even that collapses to a
    hash-threshold gate refined per language."""
    return _hare_quota_select(load_table(spark, sf_dir, "documents"))


def _hare_quota_select(
    d: DataFrame, counts: DataFrame | None = None
) -> DataFrame:
    """Hare apportionment + md5 hash-rank selection over any
    (doc_id, lang) DataFrame; budget = rows // 2.  When ``counts``
    (a (lang, cnt) table) is supplied — the streaming controller's
    drained segment sums — the apportionment runs on IT and the corpus
    contributes only the final hash-rank selection pass; doc counts
    are additive over any slicing, so both paths yield the same
    quotas."""
    if counts is None:
        counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.groupBy().agg(
        (F.sum("cnt") / 2).cast("long").alias("budget")
    )
    c = counts
    w = c.select(
        "lang", "cnt", F.floor(F.sqrt("cnt")).cast("long").alias("wt")
    )
    q = (
        w.crossJoin(F.broadcast(total))
        .withColumn("tw", F.sum("wt").over(Window.partitionBy()))
        .select(
            "lang", "cnt",
            F.expr("(budget * wt) div tw").alias("q0"),
            ((F.col("budget") * F.col("wt")) % F.col("tw")).alias("rem"),
            "budget",
        )
    )
    r = q.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "lang"))
        .alias("rk"),
        (F.col("budget") - F.sum("q0").over(Window.partitionBy()))
        .alias("leftover"),
    )
    quota = r.select(
        "lang",
        F.least(
            F.col("q0")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0),
            F.col("cnt"),
        ).alias("quota"),
    )
    hrk = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
        )
    )
    return (
        d.select("doc_id", "lang")
        .withColumn("hrk", hrk)
        .join(F.broadcast(quota), "lang")
        .filter(F.col("hrk") <= F.col("quota"))
        .select("doc_id", "lang")
    )


# --------------------------------------------------------------------------
# N6-S — streaming quota re-apportionment
# --------------------------------------------------------------------------
@register(
    "s_quota_mix_stream",
    oracle=_QUOTA_ORACLE,
    survey="N6 X2 X4",
    tags=("streaming",),
)
def s_quota_mix_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Hare quota re-apportionment — the exact-count mixing
    gate made incremental (completing the N6 at-ingest family next to
    DSIR/DoReMi/UniMax): each arriving micro-batch lands its
    per-language DOC counts as an OVERWRITE-idempotent (lang, cnt)
    segment, SegmentStore folds every 2 batches with a key-wise re-SUM
    so live state is O(languages), and after the drain the shared Hare
    apportionment (_hare_quota_select — the batch operator's exact code
    path) re-derives the quotas from the summed counts; the selection
    pass then runs once over the corpus snapshot (the DSIR-stream
    contract: stats at ingest, scoring as a batch job on whatever
    snapshot needs it).  Doc counts are additive over ANY slicing, so
    the drained quotas equal the one-shot batch answer — the oracle is
    n6_quota_mix's SQL verbatim, hash-matched, and slicing-invariance
    is test-pinned.  At 100 TB: per-batch work is one language-keyed
    count, the apportionment reruns on a language-sized frame, and the
    corpus is read exactly once (by the selection job, not the
    controller)."""
    return _quota_stream_run(spark, sf_dir)


def _quota_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
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

    wd = _work_dir(sf_dir, "s_quota")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("lang").agg(F.sum("cnt").alias("cnt")),
    )
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks or _CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(batch, bid: int) -> None:
        store.append(
            batch.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    counts = (
        store.read()
        .groupBy("lang")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    d = load_table(spark, sf_dir, "documents")
    out = _hare_quota_select(d, counts=counts).localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
