"""N2 — exact substring dedup via a distributed suffix array.

The real unit from Lee et al. 2022: duplicated-token-span extraction
through prefix-doubling suffix ranks (operators/suffix_array.py), the
method the dedup literature actually specifies — no gram hashing, no
document-frequency caps, corpus-global.  The DuckDB oracle verifies the
same span set through the L-gram equivalence (a window of length L is
duplicated iff the L-gram starting there is), so the two engines agree
by theorem, not by sharing an algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import suffix_array
from ..registry import register
from ..tables import load_table

_SA_L = 8  # minimum duplicated span length, in tokens (power of two)

_LEADS = " || CHR(1) || ".join(
    f"LEAD(token, {i}) OVER w" for i in range(1, _SA_L)
)

_SA_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), t AS (
  SELECT doc_id, UNNEST(range(1, len(tk) + 1)) AS p1, tk FROM d
), tok AS (
  SELECT doc_id, p1 - 1 AS tpos, tk[p1] AS token FROM t
), g AS (
  SELECT doc_id, tpos,
         token || CHR(1) || {_LEADS} AS gram,
         LEAD(token, {_SA_L - 1}) OVER w IS NOT NULL AS fl
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)
), dupg AS (
  SELECT gram FROM g WHERE fl GROUP BY gram HAVING COUNT(*) >= 2
), hit AS (
  SELECT doc_id, tpos FROM g JOIN dupg USING (gram) WHERE g.fl
), brk AS (
  SELECT doc_id, tpos,
         CASE WHEN tpos - LAG(tpos) OVER (PARTITION BY doc_id
                  ORDER BY tpos) > {_SA_L} THEN 1 ELSE 0 END AS b
  FROM hit
), isl AS (
  SELECT doc_id, tpos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY tpos) AS grp
  FROM brk
)
SELECT doc_id,
       CAST(MIN(tpos) AS BIGINT) AS span_start,
       CAST(MAX(tpos) + {_SA_L} AS BIGINT) AS span_end,
       CAST(MAX(tpos) + {_SA_L} - MIN(tpos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


@register(
    "n2_suffix_array_spans",
    oracle=_SA_ORACLE,
    survey="N2 N1",
)
def n2_suffix_array_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-token spans via DISTRIBUTED SUFFIX-ARRAY ranks
    (Lee et al. 2022's actual unit; upgrades the char-gram-island
    approximation in n2_substring_dup_spans, which hashes grams and
    df-caps hot ones — this query has neither, so its span set is the
    exact corpus-global answer).

    Plan shape: tokenize map-side -> concatenated corpus positions with
    per-doc unique separators -> ceil(log2 L)=3 prefix-doubling rounds,
    each {self-join on gpos+k, equality-class assignment (one
    map-side-combining aggregate + join — no global sort, no
    single-task window; consumers only test rank equality, so ordered
    dense ranks are unnecessary work)} -> rank groups with count >= 2
    are the duplicated windows -> per-doc gaps-and-islands coalesce
    into maximal spans.  At 100 TB every round is one join plus one
    combining aggregate over the token table — the Manber-Myers loop
    as O(log L) relational passes, with L=8 the bounded resolution a
    min-span-length dedup needs (the full suffix ORDER would be the
    same loop run to log2 N, with dense_rank_distributed supplying the
    order)."""
    docs = load_table(spark, sf_dir, "documents")
    return suffix_array.duplicate_token_spans(
        docs, "doc_id", "text", length=_SA_L
    )


_CUT_ORACLE = f"""
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tk
  FROM documents
), t AS (
  SELECT doc_id, UNNEST(range(1, len(tk) + 1)) AS p1, tk FROM d
), tok AS (
  SELECT doc_id, p1 - 1 AS tpos, tk[p1] AS token FROM t
), g AS (
  SELECT doc_id, tpos,
         token || CHR(1) || {_LEADS} AS gram,
         LEAD(token, {_SA_L - 1}) OVER w IS NOT NULL AS fl
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY tpos)
), dupg AS (
  SELECT gram FROM g WHERE fl GROUP BY gram HAVING COUNT(*) >= 2
), hit AS (
  SELECT doc_id, tpos, gram FROM g JOIN dupg USING (gram) WHERE g.fl
), cutw AS (
  SELECT doc_id, tpos FROM (
    SELECT doc_id, tpos,
           ROW_NUMBER() OVER (PARTITION BY gram
                              ORDER BY doc_id, tpos) AS rn
    FROM hit
  ) WHERE rn > 1
), brk AS (
  SELECT doc_id, tpos,
         CASE WHEN tpos - LAG(tpos) OVER (PARTITION BY doc_id
                  ORDER BY tpos) > {_SA_L} THEN 1 ELSE 0 END AS b
  FROM cutw
), isl AS (
  SELECT doc_id, tpos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY tpos) AS grp
  FROM brk
), spans AS (
  SELECT doc_id, MAX(tpos) + {_SA_L} - MIN(tpos) AS cut_len
  FROM isl GROUP BY doc_id, grp
), cuts AS (
  SELECT doc_id, SUM(cut_len) AS cut_tokens, COUNT(*) AS n_cut_spans
  FROM spans GROUP BY doc_id
), dl AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok FROM d
)
SELECT dl.doc_id, dl.n_tok,
       CAST(COALESCE(cuts.cut_tokens, 0) AS BIGINT) AS cut_tokens,
       CAST(dl.n_tok - COALESCE(cuts.cut_tokens, 0) AS BIGINT)
         AS kept_tokens,
       CAST(COALESCE(cuts.n_cut_spans, 0) AS BIGINT) AS n_cut_spans
FROM dl LEFT JOIN cuts ON cuts.doc_id = dl.doc_id
"""


@register(
    "n2_exactsubstr_cut",
    oracle=_CUT_ORACLE,
    survey="N2 N1",
)
def n2_exactsubstr_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr CUT — the dedup ACTION of Lee et al. 2022 on top
    of the span machinery: every duplicated L-token window keeps its
    globally-FIRST occurrence (min (doc_id, position) within the
    window's suffix-rank group) and every other occurrence's interval
    is cut; overlapping cuts merge per document, and each document
    reports (n_tok, cut_tokens, kept_tokens, n_cut_spans) — the
    before/after budget a dedup run ships.  Canonical-occurrence
    selection is one rank window over the duplicated-window groups;
    everything else is the span machinery's plan, so at 100 TB the
    cost is the O(log L) prefix-doubling passes plus one extra
    group-keyed window.  The oracle verifies through the same L-gram
    equivalence theorem as n2_suffix_array_spans — same sets, different
    algorithm; the keep-at-least-one guarantee is test-pinned."""
    docs = load_table(spark, sf_dir, "documents")
    return suffix_array.exactsubstr_cut(
        docs, "doc_id", "text", length=_SA_L
    )


# --------------------------------------------------------------------------
# N2-S — STREAMING ExactSubstr maintenance (the at-ingest twin)
# --------------------------------------------------------------------------
def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, tpos, gram) for every fully-inside L-token window —
    the L-gram equivalence form of the suffix machinery's duplicated
    windows (identical window <=> identical gram; separators make any
    cross-document window impossible by construction)."""
    tk = docs.select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
        ).alias("tk"),
    ).filter(F.size("tk") >= _SA_L)
    return tk.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(tk) - {_SA_L}),"
                f" i -> struct(i AS tpos,"
                f" array_join(slice(tk, i + 1, {_SA_L}), chr(1)) AS gram))"
            )
        ).alias("p"),
    ).select("doc_id", "p.tpos", "p.gram")


@register(
    "s_exactsubstr_cut_stream",
    oracle=_CUT_ORACLE,
    survey="N2 N1 X2 X4",
    tags=("streaming",),
)
def s_exactsubstr_cut_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ExactSubstr maintenance — the suffix-dedup tier's
    at-ingest twin (every other dedup family already had one): each
    arriving micro-batch explodes to its fully-inside L-token windows
    and lands as an OVERWRITE-idempotent (gram, cnt, min_doc, min_tpos)
    segment; SegmentStore folds every 2 batches with a key-wise
    {SUM(cnt), MIN(doc, tpos)} re-merge, so live state is O(distinct
    L-grams) regardless of uptime.  Counts and first-occurrence keys
    are both ADDITIVE over any corpus slicing, so the drained table
    equals the one-shot aggregation — and the post-drain cut pass
    (windows with cnt >= 2, every occurrence except the global
    (doc, tpos) minimum cut, islands merged) reproduces
    n2_exactsubstr_cut's report verbatim: the oracle is the same
    L-gram-equivalence SQL, hash-matched.

    100 TB shape: per batch one gram explode + one gram-keyed segment
    write (O(batch windows)); the fold is domain-bounded; re-cutting a
    snapshot is a separate batch job — the kn3-stats contract."""
    return _exactsubstr_stream_run(spark, sf_dir)


def _exactsubstr_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """Runner with crash injection for the sweep: the crash lands AFTER
    the segment append with the checkpoint uncommitted — the bid-gated
    overwrite makes the recovery replay idempotent (no double counts,
    no lost first-occurrence keys)."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_exactsubstr")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    def remerge(df: DataFrame) -> DataFrame:
        return (
            df.groupBy("gram")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.min(F.struct("min_doc", "min_tpos")).alias("mk"),
            )
            .select(
                "gram", "cnt",
                F.col("mk.min_doc").alias("min_doc"),
                F.col("mk.min_tpos").alias("min_tpos"),
            )
        )

    store = SegmentStore(spark, seg_dir, compact_every=2, merge=remerge)
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        seg = (
            _doc_grams(batch.select("doc_id", "text"))
            .groupBy("gram")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.min(F.struct(
                    F.col("doc_id").alias("min_doc"),
                    F.col("tpos").alias("min_tpos"),
                )).alias("mk"),
            )
            .select(
                "gram", "cnt",
                F.col("mk.min_doc").alias("min_doc"),
                F.col("mk.min_tpos").alias("min_tpos"),
            )
        )
        store.append(seg.coalesce(1), bid)
        if crash.fire(bid):
            raise RuntimeError("injected crash after segment append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    dup = (
        remerge(store.read())
        .filter(F.col("cnt") >= 2)
        .localCheckpoint(eager=True)
    )
    docs = load_table(spark, sf_dir, "documents")
    hits = _doc_grams(docs).join(dup, "gram").filter(
        ~(
            (F.col("doc_id") == F.col("min_doc"))
            & (F.col("tpos") == F.col("min_tpos"))
        )
    ).select("doc_id", "tpos")
    wisl = Window.partitionBy("doc_id").orderBy("tpos")
    isl = hits.withColumn(
        "brk",
        F.coalesce(
            (F.col("tpos") - F.lag("tpos").over(wisl) > _SA_L).cast("int"),
            F.lit(0),
        ),
    ).withColumn(
        "grp",
        F.sum("brk").over(wisl.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        (F.max("tpos") + _SA_L - F.min("tpos")).alias("cut_len")
    )
    cuts = spans.groupBy("doc_id").agg(
        F.sum("cut_len").cast("long").alias("cut_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_cut_spans"),
    )
    doclen = docs.select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.col("text"), r"\s+"), lambda x: x != F.lit("")
            )
        ).cast("long").alias("n_tok"),
    )
    out = doclen.join(cuts, "doc_id", "left").select(
        "doc_id", "n_tok",
        F.coalesce("cut_tokens", F.lit(0)).cast("long").alias("cut_tokens"),
        (F.col("n_tok") - F.coalesce("cut_tokens", F.lit(0)))
        .cast("long").alias("kept_tokens"),
        F.coalesce("n_cut_spans", F.lit(0)).cast("long")
        .alias("n_cut_spans"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(seg_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
