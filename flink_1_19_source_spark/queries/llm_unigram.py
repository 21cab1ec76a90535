"""N4 — Unigram-LM (SentencePiece) EM TRAINER (Kudo 2018, "Subword
Regularization: Improving Neural Network Translation Models with
Multiple Subword Candidates").

Completes the tokenizer-TRAINING family: BPE, byte-level BPE and
WordPiece train their vocabularies in-engine; Unigram previously had
only the Viterbi encoder over a frequency-seeded vocab.  This module
adds the actual Kudo unit — the EM loop (E-step: posterior expected
piece counts over ALL segmentations of each word via forward-backward
on the lattice; M-step: re-estimate piece probabilities from expected
counts) followed by the prune step (keep singles for coverage plus the
top multis by expected count, renormalize) — and a second query that
Viterbi-encodes the corpus with the TRAINED probabilities.

Scale shape (100 TB): ONE corpus pass to word-type frequencies (the
same map + one shuffle as every tokenizer trainer here), the E-step is
map-only over the DISTINCT-word table with the vocab dict broadcast
(bounded metadata — singles + 300 multis), and each M-step is one
map-side-combining aggregate whose result is a model-sized collect
(~340 rows), the certified llm_train pattern.  Rounds are a fixed
small constant, exactly like the perceptron/logistic training tier.

Numeric contract (what makes the DuckDB oracle hash-exact): alpha/beta
are IEEE doubles accumulated in FIXED l=1..4 order; each occurrence's
expected count is quantized to int64 by ONE left-associative op chain
(floor(alpha*p*beta/alphaL*2^20 + 0.5)) so every corpus-level aggregate
is exact integer arithmetic with no accumulation-order dependence;
probabilities are single divisions of exact int64 operands.  The
oracle replays the lattice with recursive CTEs carrying a 4-slot
sliding window — the same device as the Viterbi encode oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

_MAX_PIECE = 4
_SEED_MULTI = 300   # seed vocab: all singles + top-300 multis
_KEEP_MULTI = 200   # pruned vocab: all singles + top-200 multis
_EM_ROUNDS = 2
_ECQ_SCALE = 1048576.0  # 2^20 expected-count quantization


# --------------------------------------------------------------------------
# shared SQL fragments (generated, so engine constants appear verbatim)
# --------------------------------------------------------------------------
_BASE_CTES = f"""tok AS (
      SELECT UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                    t -> t <> '')) AS w
      FROM documents WHERE doc_id < 200
    ), words AS MATERIALIZED (
      SELECT w, COUNT(*) AS freq, LEN(w) AS wl FROM tok GROUP BY 1
    ), occ AS MATERIALIZED (
      SELECT w, wl, freq, p AS i, p + L AS j, substr(w, p + 1, L) AS piece
      FROM (SELECT w, freq, wl, UNNEST(range(0, wl)) AS p FROM words),
           (SELECT UNNEST(range(1, {_MAX_PIECE + 1})) AS L)
      WHERE p + L <= wl
    ), pc AS MATERIALIZED (
      SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt, LEN(piece) AS pl
      FROM occ GROUP BY 1
    ), vocab0 AS MATERIALIZED (
      SELECT piece, cnt FROM pc WHERE pl = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM pc WHERE pl >= 2
        ORDER BY cnt DESC, piece LIMIT {_SEED_MULTI}
      )
    ), v0 AS MATERIALIZED (
      SELECT piece,
             CAST(cnt AS DOUBLE) /
             CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM vocab0) AS DOUBLE)
               AS p
      FROM vocab0
    )"""


def _round_ctes(r: int, v: str) -> str:
    """One EM round as SQL: forward/backward recursive CTEs over the
    lattice (4-slot sliding windows, the Viterbi-oracle device), the
    quantized E-step, and the M-step probability table v{r}.  ``v`` is
    the previous round's probability CTE name."""
    terms_f = " + ".join(
        f"COALESCE(x{k}.p * f.al[{k}], 0.0)" for k in range(1, 5)
    )
    joins_f = "\n      ".join(
        f"LEFT JOIN {v} x{k} ON "
        + (f"f.pos >= {k - 1} AND " if k > 1 else "")
        + f"x{k}.piece = substr(f.w, f.pos + {2 - k}, {k})"
        for k in range(1, 5)
    )
    terms_b = " + ".join(
        f"COALESCE(y{k}.p * f.bl[{k}], 0.0)" for k in range(1, 5)
    )
    joins_b = "\n      ".join(
        f"LEFT JOIN {v} y{k} ON "
        + (f"f.pos + {k - 1} <= f.wl AND " if k > 1 else "")
        + f"y{k}.piece = substr(f.w, f.pos, {k})"
        for k in range(1, 5)
    )
    return f"""af{r} AS (
      SELECT w, wl, 0 AS pos,
             CAST([1.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS al
      FROM words
      UNION ALL
      SELECT w, wl, pos + 1, [na, al[1], al[2], al[3]]
      FROM (
        SELECT f.w, f.wl, f.pos, f.al, {terms_f} AS na
        FROM af{r} f
        {joins_f}
        WHERE f.pos < f.wl
      )
    ), afm{r} AS MATERIALIZED (
      SELECT w, pos, al[1] AS a FROM af{r}
    ), ab{r} AS (
      SELECT w, wl, wl AS pos,
             CAST([1.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS bl
      FROM words
      UNION ALL
      SELECT w, wl, pos - 1, [nb, bl[1], bl[2], bl[3]]
      FROM (
        SELECT f.w, f.wl, f.pos, f.bl, {terms_b} AS nb
        FROM ab{r} f
        {joins_b}
        WHERE f.pos >= 1
      )
    ), bfm{r} AS MATERIALIZED (
      SELECT w, pos, bl[1] AS b FROM ab{r}
    ), ec{r} AS MATERIALIZED (
      SELECT o.piece,
             CAST(SUM(o.freq *
                  CAST(FLOOR(fa.a * v.p * fb.b / fl.a * {_ECQ_SCALE!r}
                             + 0.5) AS BIGINT)) AS BIGINT) AS cnt
      FROM occ o
      JOIN {v} v ON v.piece = o.piece
      JOIN afm{r} fa ON fa.w = o.w AND fa.pos = o.i
      JOIN bfm{r} fb ON fb.w = o.w AND fb.pos = o.j
      JOIN afm{r} fl ON fl.w = o.w AND fl.pos = o.wl
      WHERE fl.a > 0
      GROUP BY 1
    ), v{r} AS MATERIALIZED (
      SELECT v0.piece,
             CASE WHEN t.total > 0
                  THEN COALESCE(CAST(e.cnt AS DOUBLE), 0.0)
                       / CAST(t.total AS DOUBLE)
                  ELSE 0.0 END AS p
      FROM vocab0 v0
      LEFT JOIN ec{r} e ON e.piece = v0.piece,
      (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS total
       FROM ec{r}) t
    )"""


def _train_ctes() -> str:
    """Seed + all EM rounds + the pruned/renormalized ``kept`` table —
    shared verbatim by the trainer oracle and the trained-encode
    oracle so the two cannot drift."""
    rounds = ",\n    ".join(
        _round_ctes(r, "v0" if r == 1 else f"v{r - 1}")
        for r in range(1, _EM_ROUNDS + 1)
    )
    return f"""{_BASE_CTES},
    {rounds},
    cw AS MATERIALIZED (
      SELECT v0.piece, COALESCE(e.cnt, 0) AS cnt, LEN(v0.piece) AS pl
      FROM vocab0 v0 LEFT JOIN ec{_EM_ROUNDS} e ON e.piece = v0.piece
    ), kept AS MATERIALIZED (
      SELECT piece, cnt FROM cw WHERE pl = 1
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt FROM cw WHERE pl >= 2
        ORDER BY cnt DESC, piece LIMIT {_KEEP_MULTI}
      )
    )"""


_TRAIN_ORACLE = f"""
    WITH RECURSIVE {_train_ctes()}
    SELECT piece, CAST(cnt AS BIGINT) AS ecnt,
           ROUND(CAST(cnt AS DOUBLE) /
                 CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM kept)
                      AS DOUBLE), 9) AS prob,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, piece)
                AS INTEGER) AS rank
    FROM kept
    """


def _words_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    tok = (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    return (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("wl", F.length("w"))
    )


def _train_unigram(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[str, int]], int, DataFrame]:
    """Train over the corpus; also returns the checkpointed word table
    so consumers (the trained-encode query) don't re-tokenize."""
    words = _words_df(spark, sf_dir).localCheckpoint(eager=True)
    kept, denom = _train_unigram_from_words(words)
    return kept, denom, words


def _train_unigram_from_words(
    words: DataFrame,
) -> tuple[list[tuple[str, int]], int]:
    """Run seed + EM + prune over a (w, freq, wl) word-frequency table;
    returns (kept pieces with final expected counts, ordered by
    (cnt desc, piece asc)) and the denominator.  Shared verbatim by the
    one-shot trainer and the streaming maintenance drain — word
    frequencies are ADDITIVE over any corpus slicing, so the two
    cannot drift.  The distributed work: one piece-counting shuffle
    for the seed, and per round one map-only E-step over distinct
    words plus one combining aggregate; only vocab-sized frames
    (~|singles| + 300 rows) are ever collected."""
    lens = F.array(*[F.lit(i) for i in range(1, _MAX_PIECE + 1)])
    pieces = (
        words.select(
            "w", "freq", "wl",
            F.explode(F.expr("sequence(0, wl - 1)")).alias("p"),
        )
        .select("w", "freq", "wl", "p", F.explode(lens).alias("L"))
        .filter(F.col("p") + F.col("L") <= F.col("wl"))
        .select(F.expr("substring(w, p + 1, L)").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("cnt"))
        .withColumn("pl", F.length("piece"))
    )
    singles = pieces.filter(F.col("pl") == 1).select("piece", "cnt")
    multi = (
        pieces.filter(F.col("pl") >= 2)
        .orderBy(F.col("cnt").desc(), "piece")
        .limit(_SEED_MULTI)
        .select("piece", "cnt")
    )
    # vocabulary-sized metadata collect (singles + 300 multis), the
    # same bounded contract as every tokenizer-trainer broadcast here
    vocab = [
        (r.piece, int(r.cnt))
        for r in singles.unionByName(multi).collect()
    ]
    total = sum(c for _, c in vocab)
    probs = {p: c / total for p, c in vocab}

    cmap: dict[str, int] = {}
    for _ in range(_EM_ROUNDS):
        pv = dict(probs)  # closure snapshot for this round's E-step

        def estep(batches, pv=pv):
            from ..operators.corpus import unigram_em_expected_counts

            for pdf in batches:
                out = []
                for rec in pdf.itertuples(index=False):
                    ecs = unigram_em_expected_counts(str(rec.w), pv)
                    out.extend(
                        (piece, int(rec.freq) * ec)
                        for piece, ec in ecs.items()
                    )
                yield pd.DataFrame(out, columns=["piece", "cw"])

        # model-sized collect: one row per vocab piece with mass
        rows = (
            words.select("w", "freq")
            .mapInPandas(estep, "piece string, cw long")
            .groupBy("piece")
            .agg(F.sum("cw").alias("cnt"))
            .collect()
        )
        cmap = {r.piece: int(r.cnt) for r in rows}
        tot = sum(cmap.values())
        probs = {
            p: (cmap.get(p, 0) / tot if tot else 0.0) for p, _ in vocab
        }

    kept = [(p, cmap.get(p, 0)) for p, _ in vocab if len(p) == 1]
    kept += sorted(
        ((p, cmap.get(p, 0)) for p, _ in vocab if len(p) >= 2),
        key=lambda t: (-t[1], t[0]),
    )[:_KEEP_MULTI]
    kept.sort(key=lambda t: (-t[1], t[0]))
    denom = sum(c for _, c in kept)
    return kept, denom


@register(
    "n4_unigram_train",
    oracle=_TRAIN_ORACLE,
    survey="N4",
)
def n4_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM EM TRAINER (Kudo 2018) — the SentencePiece training
    unit the encode-only tier lacked: seed every corpus character plus
    the top-300 substrings (len 2-4, occurrence-weighted), run 2 EM
    rounds (E-step: forward-backward posterior expected counts over all
    segmentations per word; M-step: renormalize), then prune to singles
    + top-200 multis by expected count and renormalize.  Output:
    (piece, ecnt, prob, rank) — the trained vocabulary with its
    quantized final expected counts, 9-dp probabilities and the
    (ecnt desc, piece asc) rank.  The oracle replays seed, both EM
    rounds (recursive-CTE forward/backward with 4-slot windows), the
    int64-quantized E-step, prune and renormalize — hash-exact under
    the module's numeric contract."""
    kept, denom, _ = _train_unigram(spark, sf_dir)
    rows = [
        (p, c, (c / denom if denom else 0.0), i + 1)
        for i, (p, c) in enumerate(kept)
    ]
    out = spark.createDataFrame(
        rows, "piece string, ecnt long, prob double, rank int"
    )
    return out.select(
        "piece", "ecnt", F.round("prob", 9).alias("prob"), "rank"
    )


# --------------------------------------------------------------------------
# N4 — encode with the TRAINED vocabulary (max-product Viterbi)
# --------------------------------------------------------------------------
def _encode_walk_case(v: str) -> str:
    """The forward-walk piece selector: LONGEST piece whose product
    with the downstream best equals the optimum (the deterministic
    tie-break unigram_viterbi_product_segment applies)."""
    whens = "\n".join(
        f"               WHEN v{k}.p IS NOT NULL"
        f" AND v{k}.p * b{k}.best = b0.best THEN {k}"
        for k in (4, 3, 2)
    )
    return f"CASE\n{whens}\n               ELSE 1 END"


_ENCODE_ORACLE = f"""
    WITH RECURSIVE {_train_ctes()},
    vt AS MATERIALIZED (
      SELECT piece,
             CAST(cnt AS DOUBLE) /
             CAST((SELECT CAST(SUM(cnt) AS BIGINT) FROM kept)
                  AS DOUBLE) AS p
      FROM kept
    ), dp AS (
      -- backward max-product Viterbi: bl[i] carries best[pos + i - 1]
      SELECT w, wl, pos, CAST([1.0, 0, 0, 0] AS DOUBLE[]) AS bl,
             CAST(1.0 AS DOUBLE) AS best
      FROM (SELECT w, wl, wl AS pos FROM words)
      UNION ALL
      SELECT w, wl, pos - 1, [nb, bl[1], bl[2], bl[3]], nb
      FROM (
        SELECT d.w, d.wl, d.pos, d.bl,
               GREATEST(v1.p * d.bl[1], v2.p * d.bl[2],
                        v3.p * d.bl[3], v4.p * d.bl[4]) AS nb
        FROM dp d
        LEFT JOIN vt v1 ON v1.piece = substr(d.w, d.pos, 1)
        LEFT JOIN vt v2 ON d.pos + 1 <= d.wl
          AND v2.piece = substr(d.w, d.pos, 2)
        LEFT JOIN vt v3 ON d.pos + 2 <= d.wl
          AND v3.piece = substr(d.w, d.pos, 3)
        LEFT JOIN vt v4 ON d.pos + 3 <= d.wl
          AND v4.piece = substr(d.w, d.pos, 4)
        WHERE d.pos >= 1
      )
    ), dpa AS MATERIALIZED (
      SELECT w, pos, best FROM dp
    ), walk AS (
      SELECT w, freq, wl, 0 AS pos, CAST([] AS VARCHAR[]) AS toks
      FROM words
      UNION ALL
      SELECT w, freq, wl, pos + bestL,
             toks || [substr(w, pos + 1, bestL)]
      FROM (
        SELECT s.w, s.freq, s.wl, s.pos, s.toks,
               {_encode_walk_case('vt')} AS bestL
        FROM walk s
        JOIN dpa b0 ON b0.w = s.w AND b0.pos = s.pos
        LEFT JOIN vt v4 ON s.pos + 4 <= s.wl
          AND v4.piece = substr(s.w, s.pos + 1, 4)
        LEFT JOIN dpa b4 ON b4.w = s.w AND b4.pos = s.pos + 4
        LEFT JOIN vt v3 ON s.pos + 3 <= s.wl
          AND v3.piece = substr(s.w, s.pos + 1, 3)
        LEFT JOIN dpa b3 ON b3.w = s.w AND b3.pos = s.pos + 3
        LEFT JOIN vt v2 ON s.pos + 2 <= s.wl
          AND v2.piece = substr(s.w, s.pos + 1, 2)
        LEFT JOIN dpa b2 ON b2.w = s.w AND b2.pos = s.pos + 2
        WHERE s.pos < s.wl
      )
    )
    SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
      SELECT UNNEST(toks) AS token, freq FROM walk WHERE pos >= wl
    ) GROUP BY 1
    """


@register(
    "n4_unigram_train_encode",
    oracle=_ENCODE_ORACLE,
    survey="N4",
)
def n4_unigram_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END trained-Unigram tokenization: run the EM trainer
    (n4_unigram_train's exact pipeline — shared code, shared oracle
    CTEs), then Viterbi-encode the corpus with the TRAINED
    probabilities under the max-product objective (products of exact
    doubles, ties to the longest piece — see
    unigram_viterbi_product_segment).  Output: (token, cnt) — the
    corpus token-frequency table under the trained vocab, the same
    shape as the other three encoders, so tokenizer families are
    comparable as data.  Encode itself is map-only over distinct words
    with the trained vocab as broadcast metadata."""
    kept, denom, words = _train_unigram(spark, sf_dir)
    probs = {p: (c / denom if denom else 0.0) for p, c in kept}

    def segment(batches):
        from ..operators.corpus import unigram_viterbi_product_segment

        for pdf in batches:
            out = []
            for rec in pdf.itertuples(index=False):
                toks = unigram_viterbi_product_segment(str(rec.w), probs)
                out.extend((t, int(rec.freq)) for t in toks)
            yield pd.DataFrame(out, columns=["token", "freq"])

    emitted = words.select("w", "freq").mapInPandas(
        segment, "token string, freq long"
    )
    return emitted.groupBy("token").agg(F.sum("freq").alias("cnt"))


# --------------------------------------------------------------------------
# N4-S — streaming Unigram-trainer maintenance
# --------------------------------------------------------------------------
@register(
    "s_unigram_stats_stream",
    oracle=_TRAIN_ORACLE,
    survey="N4 X2 X4",
    tags=("streaming",),
)
def s_unigram_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Unigram-trainer maintenance — the EM trainer's count
    pass made incremental (the byte-BPE/kn3-stats contract): each
    arriving micro-batch lowercases + whitespace-splits its documents
    (the one-shot trainer's doc_id gate is per-document, so it composes
    with any slicing) and lands as an OVERWRITE-idempotent (w, freq)
    count segment; SegmentStore folds every 2 batches with a key-wise
    re-SUM, so live state is O(word types) regardless of uptime.  Word
    frequencies are additive over any corpus slicing, so the drained
    table equals the one-shot aggregation — and the post-drain EM +
    prune (the shared _train_unigram_from_words arithmetic) reproduces
    n4_unigram_train verbatim: the oracle is the same lattice-replay
    SQL, hash-matched.  At 100 TB this is how a tokenizer tracks a
    growing corpus: new data updates O(batch word types) state;
    re-running EM is a distinct-word-sized batch job, never a corpus
    re-read."""
    return _unigram_stats_stream_run(spark, sf_dir)


def _unigram_stats_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """Runner with crash injection: the crash lands AFTER the count
    segment append with the checkpoint uncommitted — the bid-gated
    overwrite keeps the summing merge double-count-free on replay."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_unigram")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("w").agg(F.sum("freq").alias("freq")),
    )
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        tok = (
            batch.filter(F.col("doc_id") < 200)
            .select(
                F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
            )
            .filter(F.col("w") != "")
        )
        store.append(
            tok.groupBy("w")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    words = (
        store.read()
        .groupBy("w")
        .agg(F.sum("freq").alias("freq"))
        .withColumn("wl", F.length("w"))
        .localCheckpoint(eager=True)
    )
    kept, denom = _train_unigram_from_words(words)
    rows = [
        (p, c, (c / denom if denom else 0.0), i + 1)
        for i, (p, c) in enumerate(kept)
    ]
    out = spark.createDataFrame(
        rows, "piece string, ecnt long, prob double, rank int"
    ).select(
        "piece", "ecnt", F.round("prob", 9).alias("prob"), "rank"
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
