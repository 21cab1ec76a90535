"""N4 — byte-level BPE with regex pre-tokenization (SURVEY §2.11):
the GPT-2 / cl100k industry-standard tokenizer unit [Radford et al.
2019, "Language Models are Unsupervised Multitask Learners", the
bytes-to-unicode byte-level BPE; Sennrich et al. 2016 for the merge
loop].  Completes the tokenizer trio's missing member: unlike the
word-level BPE in llm_tokenize.py, this one (a) pre-tokenizes with the
GPT-2-style regex (contractions, leading-space words, number runs,
punctuation runs, whitespace) so merges can never cross a pre-token
boundary, and (b) operates on UTF-8 BYTES — no OOV is possible, any
string round-trips.

Engine-portability notes (what makes the DuckDB oracle exact):
- the pre-tokenizer pattern avoids lookahead (RE2 has none) — the
  GPT-2 original's ``\\s+(?!\\S)`` trailing-space split is dropped,
  every other alternative kept; Java regex and RE2 both use
  leftmost-first alternation, so the token streams agree.
- bytes are rendered as 2-hex-digit symbols via hex(encode(w)) —
  uppercase in both engines — instead of GPT-2's bytes_to_unicode
  table (a display-only bijection; hex is the same bijection with a
  SQL-replayable spelling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

_BB_MERGES = 24
#: deterministic training-sample rate (house md5 hash-gate convention)
_BB_SAMPLE_RATE = 0.4

#: GPT-2's pre-tokenizer minus the RE2-unsupported lookahead branch:
#: contractions, optional-leading-space letter runs / digit runs /
#: punctuation runs, then whitespace runs.
_BB_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def _bb_stages_sql(n: int) -> str:
    """Unrolled-iteration CTE chain, the byte-level edition of
    llm_tokenize._bpe_stages_sql: pre-tokens from the regex (case
    PRESERVED — byte-level BPE never lowercases), each rendered as
    pipe-wrapped hex byte symbols, then n stages of pair-count →
    argmax → merge-apply.  Hex symbols can never contain '|', so the
    boundary-safe REPLACE needs no token filtering."""
    from ..operators.sampling import threshold_hex

    thr = threshold_hex(_BB_SAMPLE_RATE)
    pat = _BB_PAT.replace("'", "''")
    parts = [rf"""
    tok0 AS MATERIALIZED (
      SELECT doc_id, UNNEST(regexp_extract_all(text, '{pat}')) AS w
      FROM documents
      WHERE substr(md5('bbpe:' || CAST(doc_id AS VARCHAR)), 1, 4) < '{thr}'
    ), w0 AS MATERIALIZED (
      SELECT w, regexp_replace(hex(encode(w)), '(..)', '|\1|', 'g') AS s,
             COUNT(*) AS freq
      FROM tok0 GROUP BY 1, 2
    )"""]
    for i in range(n):
        parts.append(f"""
    , p{i} AS (
      SELECT l, freq, UNNEST(range(1, len(l))) AS i
      FROM (SELECT string_split(trim(s, '|'), '||') AS l, freq FROM w{i})
    ), c{i} AS (
      SELECT l[i] AS a, l[i+1] AS b, SUM(freq) AS cnt FROM p{i} GROUP BY 1, 2
    ), m{i} AS MATERIALIZED (
      SELECT a, b, CAST(cnt AS BIGINT) AS cnt FROM c{i}
      ORDER BY cnt DESC, a, b LIMIT 1
    ), w{i + 1} AS MATERIALIZED (
      SELECT w, replace(s, '|' || m.a || '||' || m.b || '|',
                        '|' || m.a || m.b || '|') AS s, freq
      FROM w{i} CROSS JOIN m{i} m
    )""")
    return "".join(parts)


def _bb_train_oracle(n: int = _BB_MERGES) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT CAST({i + 1} AS BIGINT) AS merge_no, a AS pair_a,"
        f" b AS pair_b, cnt AS pair_count FROM m{i}"
        for i in range(n)
    )
    return f"WITH {_bb_stages_sql(n)}\n    {union}"


def _bb_encode_oracle(n: int = _BB_MERGES) -> str:
    return f"""WITH {_bb_stages_sql(n)}
    SELECT t.doc_id,
           CAST(SUM(len(string_split(trim(f.s, '|'), '||'))) AS BIGINT)
             AS n_bbpe_tokens
    FROM tok0 t JOIN w{n} f ON f.w = t.w
    GROUP BY t.doc_id
    """


def _bb_train_spark(spark: SparkSession, sf_dir: str, n: int = _BB_MERGES):
    """Distributed byte-level BPE trainer; returns (merges, words_df,
    tok_df) where words_df is the final (w, s, freq) pre-token
    vocabulary with s the merged hex-symbol string."""
    from ..operators.sampling import keep

    d = load_table(spark, sf_dir, "documents").filter(
        keep(F.col("doc_id"), "bbpe", _BB_SAMPLE_RATE)
    )
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(_BB_PAT), F.lit(0))
        ).alias("w"),
    )
    words = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            F.regexp_replace(
                F.hex(F.encode(F.col("w"), "UTF-8")), "(..)", r"|$1|"
            ).alias("s"),
            "freq",
        )
        .localCheckpoint()
    )
    merges, words = _bb_merge_loop(words, n)
    return merges, words, tok


def _bb_merge_loop(words: DataFrame, n: int):
    """The shared pair-count -> argmax -> merge-apply loop over a
    (w, s, freq) vocabulary frame — used verbatim by the one-shot
    trainer and the streaming twin's post-drain pass, so the two
    cannot drift.  Returns (merges, final_words)."""
    merges: list[tuple[int, str, str, int]] = []
    for i in range(n):
        pairs = (
            words.select(
                F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|").alias("l"),
                "freq",
            )
            .filter(F.size("l") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(l) - 2),"
                        " i -> struct(l[i] AS a, l[i + 1] AS b))"
                    )
                ).alias("p"),
                "freq",
            )
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((i + 1, a, b, cnt))
        words = words.select(
            "w",
            F.replace(
                F.col("s"), F.lit(f"|{a}||{b}|"), F.lit(f"|{a}{b}|")
            ).alias("s"),
            "freq",
        )
        if (i + 1) % 8 == 0:
            words = words.localCheckpoint()
    return merges, words


@register(
    "n4_bpe_bytelevel_train",
    oracle=_bb_train_oracle(),
    survey="N4 X8",
)
def n4_bpe_bytelevel_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE merge training with GPT-2 regex pre-tokenization —
    the tokenizer unit modern LLM stacks actually ship (GPT-2's
    tokenizer, tiktoken's cl100k family): the corpus is hash-sampled at
    a documented 40%, split by the pre-tokenizer regex (merges never
    cross contraction/word/number/punct/space boundaries), each
    pre-token rendered as UTF-8 byte symbols (hex pairs — the
    SQL-replayable spelling of bytes_to_unicode), then 24 iterations of
    pair-count → argmax (count desc, pair lexicographic) → merge.

    Same scale shape as word-level BPE training: ONE corpus-sized
    shuffle builds the pre-token frequency vocabulary; every iteration
    after that runs on the vocabulary table, orders of magnitude
    smaller.  Output: (merge_no, pair_a, pair_b, pair_count) with hex
    byte-run symbols."""
    merges, _, _ = _bb_train_spark(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_no long, pair_a string, pair_b string, pair_count long"
    )


@register(
    "n4_bpe_bytelevel_encode",
    oracle=_bb_encode_oracle(),
    survey="N4",
)
def n4_bpe_bytelevel_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under the trained byte-level merges: per document,
    the token count a context-window planner consumes.  The encode is a
    broadcast JOIN against the final (pre-token → merged symbols)
    vocabulary — the corpus is touched exactly once, and because the
    symbol alphabet is bytes there is NO out-of-vocabulary path: every
    pre-token the regex emits has a byte spelling in the table."""
    merges, words, tok = _bb_train_spark(spark, sf_dir)
    n_syms = F.size(F.split(F.expr("trim(BOTH '|' FROM s)"), r"\|\|"))
    vocab = words.select("w", n_syms.alias("n_syms"))
    return (
        tok.join(F.broadcast(vocab), "w")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").cast("long").alias("n_bbpe_tokens"))
    )


# --------------------------------------------------------------------------
# N4-S — STREAMING byte-level BPE vocabulary maintenance
# --------------------------------------------------------------------------
@register(
    "s_bpe_bytelevel_stats_stream",
    oracle=_bb_train_oracle(),
    survey="N4 X2 X4",
    tags=("streaming",),
)
def s_bpe_bytelevel_stats_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING byte-level-BPE vocabulary maintenance — the tokenizer
    trainer's count pass made incremental (the kn3-stats contract):
    each arriving micro-batch regex-pre-tokenizes (the SAME hash-gated
    40% sample the one-shot trainer uses — the gate is per-document,
    so it composes with any slicing) and lands as an
    OVERWRITE-idempotent (w, freq) count segment; SegmentStore folds
    every 2 batches with a key-wise re-SUM, so live state is
    O(pre-token types) regardless of uptime.  Pre-token frequencies
    are ADDITIVE over any corpus slicing, so the drained vocabulary
    equals the one-shot aggregation — and the post-drain merge loop
    (the shared trainer arithmetic over the drained (w, freq) table)
    reproduces n4_bpe_bytelevel_train's merge table verbatim: the
    oracle is the same unrolled-CTE SQL, hash-matched.  At 100 TB this
    is how a tokenizer tracks a growing corpus: new data updates
    O(batch pre-token types) state, re-deriving merges is a
    vocabulary-sized batch job, never a corpus re-read."""
    return _bb_stats_stream_run(spark, sf_dir)


def _bb_stats_stream_run(
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

    from ..operators.sampling import keep
    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_bbpe")
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
        tok = batch.filter(
            keep(F.col("doc_id"), "bbpe", _BB_SAMPLE_RATE)
        ).select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(_BB_PAT), F.lit(0))
            ).alias("w")
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
        .select(
            "w",
            F.regexp_replace(
                F.hex(F.encode(F.col("w"), "UTF-8")), "(..)", r"|$1|"
            ).alias("s"),
            "freq",
        )
        .localCheckpoint(eager=True)
    )
    merges, _ = _bb_merge_loop(words, _BB_MERGES)
    out = spark.createDataFrame(
        merges, "merge_no long, pair_a string, pair_b string, pair_count long"
    ).localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
