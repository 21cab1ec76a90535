"""N4 — in-engine LOGISTIC classifier training (the probabilistic
upgrade of n4_perceptron_train).

Logistic-regression gradient descent needs a sigmoid; libm sigmoids
drift across engines, so this trainer substitutes the PINNED
piecewise-rational ("hard") sigmoid

    sigma~(m) = clamp((m + T) / 2T, 0, 1)

whose gradient factor g(m) = T - clamp(m, -T, T) is EXACT INTEGER
arithmetic.  Every update is w += sum_rows y * x * g(y * m) — no
learning-rate float, no division anywhere in training (the rate is
implicit in T's scale), so weights and margins are bit-identical in
Spark and DuckDB.  Magnitudes stay under int64 by construction:
|g| <= 2T, |sum y*x*g| <= N*|x|*2T per iteration, margins <=
iters*that*|x| — bounded ~1e17 at the fixture scale.

The emitted probability is MIN-MAX margin calibration: with
C = max|margin| over the corpus (an exact integer, one aggregate),
prob = (m + C) / 2C — a single IEEE division of exact integers, monotone
in the margin, spanning (0,1) across the corpus by construction.  (The
trained margins scale with T, so a fixed-width sigmoid window would
saturate to 0/1 everywhere; corpus-calibrated scaling is what a
quality-gate threshold consumes anyway.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

_LG_ITERS = 6
_LG_T = 1 << 20  # hard-sigmoid half-width (the implicit learning rate)
_LG_FEATS = ("f_tokens", "f_punct", "f_digits", "f_upper", "f_chars")


def _lg_stages_sql(n: int) -> str:
    """Unrolled training iterations as chained single-row CTEs (the
    perceptron/BPE stages device): v{k} holds the 6 integer weights
    after iteration k; iteration k adds sum(y*x*g) with
    g = T - clamp(y*margin, -T, T) under the PREVIOUS weights."""
    fs = _LG_FEATS
    t = _LG_T
    parts = []
    for k in range(1, n + 1):
        if k == 1:
            # v0 = 0: margin 0 everywhere, g = T for every row
            sums = ", ".join(
                f"SUM(y * {f} * {t}) AS a{i}" for i, f in enumerate(fs)
            )
            parts.append(
                f"v1 AS (SELECT {sums}, SUM(y * {t}) AS b FROM feats)"
            )
            continue
        p = f"v{k - 1}"
        margin = " + ".join(
            f"{p}.a{i} * {f}" for i, f in enumerate(fs)
        ) + f" + {p}.b"
        g = (
            f"({t} - GREATEST(-{t}, LEAST({t}, y * ({margin}))))"
        )
        adds = ", ".join(
            f"{p}.a{i} + s.d{i} AS a{i}" for i in range(len(fs))
        )
        deltas = ", ".join(
            f"COALESCE(SUM(y * {f} * {g}), 0) AS d{i}"
            for i, f in enumerate(fs)
        )
        parts.append(
            f"v{k} AS (SELECT {adds}, {p}.b + s.db AS b FROM {p}, "
            f"(SELECT {deltas}, COALESCE(SUM(y * {g}), 0) AS db "
            f"FROM feats, {p}) s)"
        )
    return ", ".join(parts)


def _lg_oracle(n: int = _LG_ITERS) -> str:
    from .llm_text import _perceptron_feats_sql

    fs = _LG_FEATS
    t = _LG_T
    margin = " + ".join(
        f"v{n}.a{i} * {f}" for i, f in enumerate(fs)
    ) + f" + v{n}.b"
    return (
        "WITH " + _perceptron_feats_sql() + ", "
        + _lg_stages_sql(n)
        + f""", mm AS (
      SELECT doc_id, y, CAST({margin} AS BIGINT) AS margin
      FROM feats, v{n}
    ), mx AS (
      SELECT GREATEST(MAX(ABS(margin)), 1) AS c FROM mm
    )
    SELECT doc_id, y, margin,
           CAST(margin + c AS DOUBLE) / CAST(2 * c AS DOUBLE) AS prob_en,
           margin >= 0 AS pred_en,
           (CASE WHEN margin >= 0 THEN 1 ELSE -1 END) = y AS correct
    FROM mm, mx
    """
    )


def _logistic_fit(feats: DataFrame) -> "tuple[list[int], int]":
    """The exact-integer hard-sigmoid GD loop; one 1-row aggregate
    collect per iteration (bounded model metadata, the BPE contract)."""
    fs = list(_LG_FEATS)
    t = _LG_T
    w = [0] * len(fs)
    b = 0
    for _ in range(_LG_ITERS):
        margin = sum(
            (F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b)
        )
        g = F.lit(t) - F.greatest(
            F.lit(-t), F.least(F.lit(t), F.col("y") * margin)
        )
        sums = feats.agg(
            *[F.sum(F.col("y") * F.col(f) * g).alias(f) for f in fs],
            F.sum(F.col("y") * g).alias("_b"),
        ).collect()[0]
        for i, f in enumerate(fs):
            w[i] += int(sums[f] or 0)
        b += int(sums["_b"] or 0)
    return w, b


@register(
    "n4_logistic_train",
    oracle=_lg_oracle(),
    survey="N4 X8 2.10",
)
def n4_logistic_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-ENGINE logistic training with the pinned piecewise-rational
    sigmoid (module docstring): same integer text features as the
    perceptron, but every row contributes a GRADED update (g shrinks
    linearly inside the +/-T margin band and is 0 when confidently
    right, 2T when confidently wrong — the hard-sigmoid gradient), and
    the trained model emits a calibrated-in-[0,1] probability column,
    which the perceptron cannot.

    Scale shape is the distributed-GD standard: the feature scan is one
    cached integer table; each iteration is ONE map-side-combining
    aggregate producing six integers that re-broadcast into the next
    iteration's expression; nothing but the model ever reaches the
    driver.  The oracle unrolls all iterations as single-row CTEs;
    improvement-over-zero-model and probability monotonicity are pinned
    in tests/test_r10_ops.py."""
    from .llm_text import _doc_features

    feats = _doc_features(load_table(spark, sf_dir, "documents")).persist()
    try:
        w, b = _logistic_fit(feats)
        fs = list(_LG_FEATS)
        margin = sum(
            (F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b)
        )
        mm = feats.select(
            "doc_id", "y", margin.cast("long").alias("margin")
        )
        # min-max calibration constant: one more 1-row model aggregate
        c = int(
            mm.agg(
                F.greatest(F.max(F.abs(F.col("margin"))), F.lit(1))
            ).collect()[0][0]
        )
        return mm.select(
            "doc_id", "y", "margin",
            (
                (F.col("margin") + F.lit(c)).cast("double")
                / F.lit(2 * c).cast("double")
            ).alias("prob_en"),
            (F.col("margin") >= 0).alias("pred_en"),
            (
                F.when(F.col("margin") >= 0, 1).otherwise(-1)
                == F.col("y")
            ).alias("correct"),
        )
    finally:
        feats.unpersist(blocking=False)


@register(
    "s_logistic_train_stream",
    oracle=_lg_oracle(),
    survey="N4 X8 X2 X4",
    tags=("streaming",),
)
def s_logistic_train_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING logistic model maintenance — the probabilistic twin of
    s_perceptron_train_stream, same crash-safe absolutive loop: each
    micro-batch's integer features append overwrite-idempotently to a
    self-compacting SegmentStore, the model refreshes by re-running the
    FULL hard-sigmoid fit over the accumulated log every 4th batch
    (never weights+delta, so replays and slicings converge), versioned
    weights land in a ledgered Derby table.  The drained snapshot is
    the post-drain refresh over the complete log — by construction
    equal to n4_logistic_train on the full corpus (same data, same
    exact-integer update rule), including the min-max calibrated
    probability column."""
    import os
    import shutil
    import uuid

    from ..sources import jdbc as jdbc_mod
    from ..streaming import replay, retract
    from ..streaming.segments import SegmentStore
    from .llm_text import _doc_features
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_logistic")
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        chunks=_CHUNKS, order_by=["doc_id"],
    )
    run = uuid.uuid4().hex[:8]
    url = jdbc_mod.derby_url(os.path.join(wd, f"derby-{run}"))
    wtab = jdbc_mod.JdbcTableSource(url, "LW_WEIGHTS")
    ledger = retract.BatchLedger(jdbc_mod.JdbcTableSource(url, "LW_LEDGER"))
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
            w, b = _logistic_fit(snap)
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
    w, b = _logistic_fit(feats)
    fs = list(_LG_FEATS)
    margin = sum((F.col(f) * F.lit(wi) for f, wi in zip(fs, w)), F.lit(b))
    mm = feats.select("doc_id", "y", margin.cast("long").alias("margin"))
    c = int(
        mm.agg(
            F.greatest(F.max(F.abs(F.col("margin"))), F.lit(1))
        ).collect()[0][0]
    )
    return mm.select(
        "doc_id", "y", "margin",
        (
            (F.col("margin") + F.lit(c)).cast("double")
            / F.lit(2 * c).cast("double")
        ).alias("prob_en"),
        (F.col("margin") >= 0).alias("pred_en"),
        (
            F.when(F.col("margin") >= 0, 1).otherwise(-1) == F.col("y")
        ).alias("correct"),
    )
