"""N4 continuation — trained text classification: char-trigram Naive
Bayes language identification with exact-integer surprisal scores (the
CLD/langdetect family's algorithm, engine-replayable edition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table


def trigram_nb_classify(d: DataFrame) -> DataFrame:
    """Char-trigram Naive Bayes over (doc_id, lang, text): train
    add-one-smoothed per-language trigram models, classify every doc by
    minimum total surprisal in EXACT whole bits — bit_length((T_l + V)
    // (n + 1)) - 1, the float-free floor-log2 — ties broken lang asc.
    Deterministic and engine-replayable; see the query docstring for
    the scale shape.  Returns (doc_id, true_lang, pred_lang, correct).
    """
    from ..operators import text_analysis as ta

    norm = d.select(
        "doc_id", "lang", ta.normalize(F.col("text")).alias("t")
    ).filter(F.char_length("t") >= 3)
    tris = norm.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(t) - 2),"
                " i -> substring(t, i, 3))"
            )
        ).alias("tri"),
    )
    doc_tris = tris.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "tri"
    ).agg(F.count(F.lit(1)).alias("c"))
    train = tris.groupBy("lang", "tri").agg(F.count(F.lit(1)).alias("n"))
    totals = train.groupBy("lang").agg(F.sum("n").alias("tl"))
    vocab = train.select("tri").distinct().groupBy().agg(
        F.count(F.lit(1)).alias("v")
    )
    bits = (
        F.length(F.bin(F.expr("(tl + v) div (coalesce(n, 0) + 1)"))) - 1
    )
    scored = (
        doc_tris.crossJoin(
            F.broadcast(totals.withColumnRenamed("lang", "cand"))
        )
        .crossJoin(F.broadcast(vocab))
        .join(
            train.withColumnRenamed("lang", "m_lang").withColumnRenamed(
                "tri", "tri_m"
            ),
            (F.col("cand") == F.col("m_lang"))
            & (F.col("tri") == F.col("tri_m")),
            "left",
        )
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum(F.col("c") * bits).alias("bits"))
    )
    w = Window.partitionBy("doc_id").orderBy("bits", "cand")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "true_lang",
            F.col("cand").alias("pred_lang"),
            (F.col("cand") == F.col("true_lang")).alias("correct"),
        )
    )


@register(
    "n4_lang_id_trigram_nb",
    oracle=r"""
    WITH norm AS (
      SELECT doc_id, lang,
             TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS t
      FROM documents
    ), tris AS (
      SELECT doc_id, lang, substring(t, i, 3) AS tri
      FROM (SELECT doc_id, lang, t, UNNEST(range(1, len(t) - 1)) AS i
            FROM norm WHERE len(t) >= 3)
    ), doc_tris AS (
      SELECT doc_id, lang AS true_lang, tri, COUNT(*) AS c
      FROM tris GROUP BY doc_id, lang, tri
    ), train AS (
      SELECT lang, tri, COUNT(*) AS n FROM tris GROUP BY lang, tri
    ), totals AS (
      SELECT lang, SUM(n) AS tl FROM train GROUP BY lang
    ), vocab AS (
      SELECT COUNT(DISTINCT tri) AS v FROM train
    ), scored AS (
      SELECT d.doc_id, d.true_lang, l.lang AS cand,
             SUM(d.c * (LENGTH(bin((l.tl + vocab.v)
                                   // (COALESCE(tr.n, 0) + 1))) - 1))
               AS bits
      FROM doc_tris d
      CROSS JOIN totals l
      CROSS JOIN vocab
      LEFT JOIN train tr ON tr.lang = l.lang AND tr.tri = d.tri
      GROUP BY d.doc_id, d.true_lang, l.lang
    ), best AS (
      SELECT doc_id, true_lang, cand AS pred_lang,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY bits, cand) AS rk
      FROM scored
    )
    SELECT doc_id, true_lang, pred_lang,
           pred_lang = true_lang AS correct
    FROM best WHERE rk = 1
    """,
    survey="N4",
)
def n4_lang_id_trigram_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram Naive Bayes language ID — the TRAINED classifier
    behind CLD/langdetect, next to n4_lang_id's stopword heuristic:
    per-language trigram models with add-one smoothing, documents
    classified by minimum total surprisal, every score an exact integer
    (bits = bit_length((T_l + V) // (n + 1)) - 1, the same float-free
    floor-log2 the LM quality gate certifies) so both engines pick
    identical argmins — the driver hash certifies the classifier's
    DECISIONS end-to-end, not just its plumbing.

    Honest caveat, verified: this fixture's `lang` labels are
    independent of its synthetic text (the stopword heuristic also
    scores at chance), so accuracy here is meaningless by construction;
    the classifier's discriminative power is pinned in
    tests/test_r8_ops.py on a PLANTED corpus with real per-language
    character distributions (>90% accuracy through this same core).

    100 TB shape: training is one (lang, trigram)-keyed count shuffle;
    scoring joins doc trigrams against the model co-partitioned on the
    trigram key with a bounded x|langs| candidate fan-out; the
    per-language totals and vocab scalar broadcast."""
    return trigram_nb_classify(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# N4/X8 — IN-ENGINE classifier training: exact-integer batch perceptron
# --------------------------------------------------------------------------
_PCT_ITERS = 8
_PCT_FEATS = ("f_tokens", "f_punct", "f_digits", "f_upper", "f_chars")


def _perceptron_feats_sql() -> str:
    return r"""
    feats AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  t -> t <> '')) AS BIGINT) AS f_tokens,
             CAST(LEN(text) - LEN(regexp_replace(text, '[.,!?;]', '', 'g'))
                  AS BIGINT) AS f_punct,
             CAST(LEN(text) - LEN(regexp_replace(text, '[0-9]', '', 'g'))
                  AS BIGINT) AS f_digits,
             CAST(LEN(text) - LEN(regexp_replace(text, '[A-Z]', '', 'g'))
                  AS BIGINT) AS f_upper,
             CAST(LEN(text) AS BIGINT) AS f_chars
      FROM documents
    )"""


def _perceptron_stages_sql(n: int) -> str:
    """Unrolled training iterations, one single-row CTE each (the BPE
    stages device): w{k} holds the 6 integer weights after iteration k;
    iteration k sums y*x over rows the PREVIOUS weights misclassify
    (margin <= 0 — ties count as errors, the deterministic rule both
    sides share)."""
    fs = _PCT_FEATS
    parts = []
    for k in range(1, n + 1):
        if k == 1:
            # w0 = 0: margin 0 everywhere, every row updates
            sums = ", ".join(
                f"SUM(y * {f}) AS a{i}" for i, f in enumerate(fs)
            )
            parts.append(
                f"w1 AS (SELECT {sums}, SUM(y) AS b FROM feats)"
            )
            continue
        p = f"w{k - 1}"
        margin = " + ".join(
            f"{p}.a{i} * {f}" for i, f in enumerate(fs)
        ) + f" + {p}.b"
        deltas = ", ".join(
            f"COALESCE(SUM(CASE WHEN y * ({margin}) <= 0 "
            f"THEN y * {f} END), 0) AS d{i}"
            for i, f in enumerate(fs)
        )
        adds = ", ".join(
            f"{p}.a{i} + s.d{i} AS a{i}" for i in range(len(fs))
        )
        parts.append(
            f"w{k} AS (SELECT {adds}, {p}.b + s.db AS b FROM {p}, "
            f"(SELECT {deltas}, COALESCE(SUM(CASE WHEN y * ({margin}) "
            f"<= 0 THEN y END), 0) AS db FROM feats, {p}) s)"
        )
    return ", ".join(parts)


def _perceptron_oracle(n: int = _PCT_ITERS) -> str:
    fs = _PCT_FEATS
    margin = " + ".join(
        f"w{n}.a{i} * {f}" for i, f in enumerate(fs)
    ) + f" + w{n}.b"
    return (
        "WITH " + _perceptron_feats_sql() + ", "
        + _perceptron_stages_sql(n)
        + f"""
    SELECT doc_id, y, CAST({margin} AS BIGINT) AS margin,
           ({margin}) >= 0 AS pred_en,
           (CASE WHEN ({margin}) >= 0 THEN 1 ELSE -1 END) = y AS correct
    FROM feats, w{n}
    """
    )


@register(
    "n4_perceptron_train",
    oracle=_perceptron_oracle(),
    survey="N4 X8 2.10",
)
def n4_perceptron_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE classifier TRAINING — the step before
    n4_model_score_batch's inference pass: a batch perceptron
    (Rosenblatt 1958, the batch-gradient form) learns to separate
    English documents from integer text statistics, entirely in
    EXACT-INTEGER arithmetic — weights start at zero and every update
    adds Σ y·x over the rows the current weights misclassify (margin
    <= 0 counts as an error; ties are deterministic), so after any
    number of iterations the weights, margins and predictions are
    bit-identical in both engines — no learning rate, no float
    gradient, no libm.

    Scale shape: the feature extraction is ONE corpus scan persisted
    once; each of the 8 iterations is a map-side-combining aggregate
    producing SIX integers (the weight vector is the only thing
    collected — bounded metadata, the BPE-argmax contract), which
    re-broadcasts into the next iteration's filter.  At 100 TB that is
    8 scans of a cached integer table and zero shuffles beyond the
    final partial-agg tree — the standard distributed-GD layout with
    the model on the driver.  The DuckDB oracle unrolls all 8
    iterations as chained single-row CTEs (the BPE stages device) and
    re-derives every margin; a drifted update rule or tie-break breaks
    the hash.  Convergence-on-separable-data is pinned by
    tests/test_r8_tail.py (Novikoff's guarantee)."""
    feats = _doc_features(load_table(spark, sf_dir, "documents")).persist()
    try:
        # _perceptron_fit collects 6 integers per iteration — the one
        # legitimate collect (bounded model metadata, the BPE contract);
        # the SAME fit function drives the streaming refresh twin
        w, b = _perceptron_fit(feats)
        fs = list(_PCT_FEATS)
        margin = sum(
            (F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b)
        )
        return feats.select(
            "doc_id", "y",
            margin.cast("long").alias("margin"),
            (margin >= 0).alias("pred_en"),
            (
                F.when(margin >= 0, 1).otherwise(-1) == F.col("y")
            ).alias("correct"),
        )
    finally:
        feats.unpersist(blocking=False)


def _perceptron_fit(feats: DataFrame) -> "tuple[list[int], int]":
    """Run the _PCT_ITERS exact-integer batch-perceptron iterations over
    a feature frame; returns (weights, bias).  Shared by the batch query
    and the streaming refresh so the update rule cannot diverge."""
    fs = list(_PCT_FEATS)
    w = [0] * len(fs)
    b = 0
    for _ in range(_PCT_ITERS):
        margin = sum(
            (F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b)
        )
        mis = feats.filter(F.col("y") * margin <= 0)
        sums = mis.agg(
            *[F.sum(F.col("y") * F.col(f)).alias(f) for f in fs],
            F.sum("y").alias("_b"),
        ).collect()[0]
        for i, f in enumerate(fs):
            w[i] += int(sums[f] or 0)
        b += int(sums["_b"] or 0)
    return w, b


def _doc_features(d: DataFrame) -> DataFrame:
    t = F.col("text")

    def count_removed(pattern: str):
        return (
            F.length(t) - F.length(F.regexp_replace(t, pattern, ""))
        ).cast("long")

    return d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.size(
            F.filter(F.split(t, r"\s+"), lambda x: x != F.lit(""))
        ).cast("long").alias("f_tokens"),
        count_removed(r"[.,!?;]").alias("f_punct"),
        count_removed(r"[0-9]").alias("f_digits"),
        count_removed(r"[A-Z]").alias("f_upper"),
        F.length(t).cast("long").alias("f_chars"),
    )


@register(
    "s_perceptron_train_stream",
    oracle=_perceptron_oracle(),
    survey="N4 X8 X2 X4",
    tags=("streaming",),
)
def s_perceptron_train_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING model maintenance — the training-at-ingest tier
    (joining the IVF/MinHash/sketch ingest family): documents arrive in
    micro-batches, each batch's integer features append to a
    self-compacting SegmentStore (the training log), and the model
    REFRESHES by re-running the full exact-integer batch-perceptron fit
    over the accumulated log on a refresh cadence (here every 4th
    batch), writing the versioned weight vector to a ledgered Derby
    table — the standard model-refresh loop, made crash-safe the
    absolutive way: appends are overwrite-idempotent, every refresh is
    recomputed FROM THE LOG (never weights+delta), so replays and
    slicings converge (tests/test_r8_tail.py).

    The returned snapshot is the post-drain refresh: predictions for
    every logged document under the final weights — by construction
    equal to the batch query on the full corpus, which is exactly what
    the shared fit function guarantees (same data ∪ same update rule ⇒
    same model, regardless of arrival slicing)."""
    import os
    import shutil
    import uuid

    from ..sources import jdbc as jdbc_mod
    from ..streaming import replay, retract
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_perceptron")
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        chunks=_CHUNKS, order_by=["doc_id"],
    )
    run = uuid.uuid4().hex[:8]
    url = jdbc_mod.derby_url(os.path.join(wd, f"derby-{run}"))
    wtab = jdbc_mod.JdbcTableSource(url, "PW_WEIGHTS")
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "PW_LEDGER"))
    wtab.ensure_table(
        spark.createDataFrame(
            [],
            "batch_id long, a0 long, a1 long, a2 long, a3 long, "
            "a4 long, b long",
        ),
        overwrite=True,
    )
    ledger.init(spark)
    log = SegmentStore(spark, os.path.join(wd, f"flog-{run}"), compact_every=2)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if ledger.seen(spark, batch_id):
            return
        log.append(_doc_features(batch_df), batch_id)
        if batch_id % 4 == 3:  # refresh cadence
            snap = log.read().persist()
            w, b = _perceptron_fit(snap)
            snap.unpersist(blocking=False)
            row = spark.createDataFrame(
                [(int(batch_id), *[int(x) for x in w], int(b))],
                "batch_id long, a0 long, a1 long, a2 long, a3 long, "
                "a4 long, b long",
            )
            wtab.upsert(row, pk_cols=["batch_id"])
        ledger.mark(spark, batch_id)

    ckpt = os.path.join(wd, f"ckpt-{run}")
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    # post-drain refresh: the final model over the complete log
    feats = log.read().persist()
    w, b = _perceptron_fit(feats)
    fs = list(_PCT_FEATS)
    margin = sum((F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b))
    return feats.select(
        "doc_id", "y",
        margin.cast("long").alias("margin"),
        (margin >= 0).alias("pred_en"),
        (F.when(margin >= 0, 1).otherwise(-1) == F.col("y")).alias(
            "correct"
        ),
    )


# --------------------------------------------------------------------------
# N4/N2 — fuzzy benchmark decontamination (the near-dup tier above the
# exact 5-gram overlap check)
# --------------------------------------------------------------------------
@register(
    "n4_fuzzy_contamination",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(tk) >= 3 THEN
          list_transform(range(0, len(tk) - 2),
                         i -> array_to_string(list_slice(tk, i + 1, i + 3),
                                              ' '))
        ELSE [array_to_string(tk, ' ')] END) AS shingles
      FROM toks
    ), c AS (
      SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE doc_id % 10 <> 7
    ), b AS (
      SELECT doc_id AS bench_id, UNNEST(shingles) AS s FROM sh
      WHERE doc_id % 10 = 7
    ), csz AS (
      SELECT doc_id, COUNT(*) AS sz FROM c GROUP BY 1
    ), bsz AS (
      SELECT bench_id, COUNT(*) AS sz FROM b GROUP BY 1
    ), i AS (
      SELECT c.doc_id, b.bench_id, COUNT(*) AS ni
      FROM c JOIN b USING (s) GROUP BY 1, 2
    ), j AS (
      SELECT i.doc_id, i.bench_id, i.ni,
             CAST(ni AS DOUBLE) / (csz.sz + bsz.sz - ni) AS jac
      FROM i JOIN csz USING (doc_id) JOIN bsz USING (bench_id)
      WHERE CAST(ni AS DOUBLE) / (csz.sz + bsz.sz - ni) >= 0.5
    )
    SELECT doc_id, bench_id, CAST(ni AS BIGINT) AS n_inter,
           ROUND(jac, 9) AS jaccard
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY jac DESC, bench_id) AS rk
      FROM j
    ) WHERE rk = 1
    """,
    survey="N4 N2",
)
def n4_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination [the FineWeb/Dolma recipe]: a
    corpus document is contaminated if its 3-gram shingle Jaccard
    against ANY eval-set document (the doc_id % 10 == 7 slice, same
    held-out convention as n4_contamination) reaches 0.5 — catching
    paraphrased / truncated eval leaks the exact 5-gram overlap check
    structurally under-scores.  The benchmark shingle rows and sizes
    broadcast (eval sets are MBs); the corpus side joins map-side and
    shuffles once on doc_id.  6 genuinely contaminated docs on this
    corpus at sf0.01 (max Jaccard 0.989 — a near-verbatim leak);
    operator: operators/corpus.fuzzy_contamination."""
    from ..operators import corpus as corpus_ops

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 10 == 7)
    corp = d.filter(F.col("doc_id") % 10 != 7).repartition(24)
    return corpus_ops.fuzzy_contamination(
        corp, bench, "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "s_fuzzy_contamination_stream",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(tk) >= 3 THEN
          list_transform(range(0, len(tk) - 2),
                         i -> array_to_string(list_slice(tk, i + 1, i + 3),
                                              ' '))
        ELSE [array_to_string(tk, ' ')] END) AS shingles
      FROM toks
    ), c AS (
      SELECT doc_id, UNNEST(shingles) AS s FROM sh WHERE doc_id % 10 <> 7
    ), b AS (
      SELECT doc_id AS bench_id, UNNEST(shingles) AS s FROM sh
      WHERE doc_id % 10 = 7
    ), csz AS (
      SELECT doc_id, COUNT(*) AS sz FROM c GROUP BY 1
    ), bsz AS (
      SELECT bench_id, COUNT(*) AS sz FROM b GROUP BY 1
    ), i AS (
      SELECT c.doc_id, b.bench_id, COUNT(*) AS ni
      FROM c JOIN b USING (s) GROUP BY 1, 2
    ), j AS (
      SELECT i.doc_id, i.bench_id, i.ni,
             CAST(ni AS DOUBLE) / (csz.sz + bsz.sz - ni) AS jac
      FROM i JOIN csz USING (doc_id) JOIN bsz USING (bench_id)
      WHERE CAST(ni AS DOUBLE) / (csz.sz + bsz.sz - ni) >= 0.5
    )
    SELECT doc_id, bench_id, CAST(ni AS BIGINT) AS n_inter,
           ROUND(jac, 9) AS jaccard
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY jac DESC, bench_id) AS rk
      FROM j
    ) WHERE rk = 1
    """,
    survey="N4 N2 X7",
    tags=("streaming",),
)
def s_fuzzy_contamination_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECONTAMINATION AT INGEST — the streaming twin of
    n4_fuzzy_contamination: the eval-set shingle index is the static/
    broadcast side (the X7 broadcast-state shape — re-read per
    micro-batch, so an eval-set refresh lands mid-stream), and each
    arriving micro-batch of crawl documents is checked map-side; the
    per-document verdict depends only on the document itself and the
    static index, so flagged rows append once and the drained output
    converges to the batch oracle at any chunking.  Per-batch work is
    O(batch x bench) with the bench side broadcast — no cross-batch
    state at all, the cheapest possible ingest gate."""
    import os
    import uuid

    from ..operators import corpus as corpus_ops
    from ..streaming import replay
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_fuzzy_contam")
    run = uuid.uuid4().hex[:8]
    out_dir = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    os.makedirs(out_dir, exist_ok=True)

    from .streaming_queries import _FILES_PER_TRIGGER

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
        files_per_trigger=_FILES_PER_TRIGGER,
    )
    # The eval set's ROWS are cached for the run (MB-scale by contract);
    # the shingle index is still derived inside each micro-batch — that
    # per-batch re-derivation is the X7 refresh hook (swap the
    # DataFrame, next batch sees the new eval set), but re-scanning
    # parquet for an unchanged eval set every batch was pure floor.
    bench = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 7
    ).persist()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        corp = batch_df.filter(F.col("doc_id") % 10 != 7)
        flagged = corpus_ops.fuzzy_contamination(
            corp, bench, "doc_id", "text", n=3, threshold=0.5
        )
        flagged.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"out-{int(batch_id):04d}")
        )

    import shutil

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    bench.unpersist()
    return spark.read.parquet(os.path.join(out_dir, "out-*")).localCheckpoint(
        eager=True
    )
