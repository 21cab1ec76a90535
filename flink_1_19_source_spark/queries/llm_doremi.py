"""N6 — DoReMi-style domain reweighting (SURVEY §2.11), batch + stream.

Domain Reweighting with Minimax Optimization [Xie et al. 2023,
"DoReMi: Optimizing Data Mixtures Speeds Up Language Model
Pretraining"] re-derived for an exact SQL oracle: the Group-DRO
exponentiated-gradient loop that upweights domains whose PROXY loss
exceeds a per-domain REFERENCE loss, re-expressed in integer
arithmetic — per-token surprisal in whole bits (the house
bit_length floor-log2 device), per-round mean excess in millibits
(integer division), multiplicative weight updates in scaled int64
floor arithmetic, and the final mixture as largest-remainder
(Hare-quota) shares of 10^6.  No exp(), no float, no engine drift:
DuckDB replays every round bit-for-bit.

Model instantiation (all in-engine, nothing fitted offline): the
proxy is the corpus-wide unigram LM (what a uniform-mixture proxy
run converges to); the reference is each domain's OWN unigram LM
(the domain-specific reference model of the paper).  A domain the
generic model handles much worse than its own model carries high
excess loss and is upweighted — exactly the DoReMi signal.

The BATCH query uses t = doc_id % 4 as the proxy's training order;
the STREAMING twin is the online mixture controller — the round IS
the arriving micro-batch (t = replay chunk index), the scorers are
the fixed trained models, and the weight state is domain-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..tables import load_table

_ROUNDS = 4
_ETA = 100          # millibit -> ppm step scale per round
_W_SCALE = 1_000_000
_PPM = 1_000_000

# The oracle template: {t_expr} assigns each document its DRO round.
_ORACLE_TMPL = r"""
    WITH docs AS (
      SELECT doc_id, source, text, {t_expr} AS t FROM documents
    ), toks AS (
      SELECT doc_id, source, t,
             UNNEST(list_filter(string_split_regex(LOWER(text), '\s+'),
                                x -> x <> '')) AS w
      FROM docs
    ), cg AS (
      SELECT w, COUNT(*) AS c FROM toks GROUP BY w
    ), ng AS (
      SELECT SUM(c) AS n FROM cg
    ), cd AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
    ), nd AS (
      SELECT source, SUM(c) AS n FROM cd GROUP BY source
    ), scored AS (
      SELECT tk.source, tk.t,
             GREATEST(0,
               (LENGTH(bin(ng.n // cg.c)) - 1)
               - (LENGTH(bin(nd.n // cd.c)) - 1)) AS excess
      FROM toks tk
      JOIN cg ON tk.w = cg.w
      JOIN cd ON tk.source = cd.source AND tk.w = cd.w
      JOIN nd ON tk.source = nd.source
      CROSS JOIN ng
    ), cell AS (
      SELECT source, t,
             (1000 * SUM(excess)) // COUNT(*) AS ex
      FROM scored GROUP BY source, t
    ), grid AS (
      SELECT s.source,
             COALESCE(MAX(CASE WHEN t = 0 THEN ex END), 0) AS e0,
             COALESCE(MAX(CASE WHEN t = 1 THEN ex END), 0) AS e1,
             COALESCE(MAX(CASE WHEN t = 2 THEN ex END), 0) AS e2,
             COALESCE(MAX(CASE WHEN t = 3 THEN ex END), 0) AS e3
      FROM (SELECT DISTINCT source FROM documents) s
      LEFT JOIN cell ON s.source = cell.source
      GROUP BY s.source
    ), wts AS (
      SELECT source, e0 + e1 + e2 + e3 AS excess_millibits,
             (((1000000
                * (1000000 + 100*e0) // 1000000)
                * (1000000 + 100*e1) // 1000000)
                * (1000000 + 100*e2) // 1000000)
                * (1000000 + 100*e3) // 1000000 AS w_final
      FROM grid
    ), tot AS (
      SELECT SUM(w_final) AS s FROM wts
    ), base AS (
      SELECT source, excess_millibits, w_final,
             (w_final * 1000000) // tot.s AS floor_ppm,
             (w_final * 1000000) % tot.s AS rem
      FROM wts CROSS JOIN tot
    ), short AS (
      SELECT 1000000 - SUM(floor_ppm) AS k FROM base
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM base
    )
    SELECT source,
           CAST(excess_millibits AS BIGINT) AS excess_millibits,
           CAST(w_final AS BIGINT) AS w_final,
           CAST(floor_ppm
                + CASE WHEN rk <= short.k THEN 1 ELSE 0 END
             AS BIGINT) AS alpha_ppm
    FROM ranked CROSS JOIN short
"""


def _unigram_models(toks: DataFrame):
    """The fixed scorers: corpus-wide (proxy) and per-domain
    (reference) unigram counts — vocabulary-sized frames."""
    cg = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cg"))
    ng = cg.agg(F.sum("cg").alias("ng"))
    cd = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("cd"))
    nd = cd.groupBy("source").agg(F.sum("cd").alias("nd"))
    return cg, ng, cd, nd


def _bits(n: str, c: str):
    """floor(log2(n/c)) exactly, as bit_length(n//c) - 1."""
    return F.length(F.bin(F.expr(f"{n} div {c}"))) - F.lit(1)


def _cell_excess(toks_t: DataFrame, cg, ng, cd, nd) -> DataFrame:
    """(source, t, ex): per-(domain, round) mean excess in millibits,
    integer division."""
    scored = (
        toks_t.join(cg, "w")
        .join(cd, ["source", "w"])
        .join(F.broadcast(nd), "source")
        .crossJoin(F.broadcast(ng))
        .select(
            "source", "t",
            F.greatest(
                F.lit(0), _bits("ng", "cg") - _bits("nd", "cd")
            ).alias("excess"),
        )
    )
    return scored.groupBy("source", "t").agg(
        F.expr("(1000 * sum(excess)) div count(*)").alias("ex")
    )


def _weights_from_cells(sources: DataFrame, cell: DataFrame) -> DataFrame:
    """Grid-fill, the 4-round multiplicative recursion, and the
    largest-remainder apportionment — all on a DOMAIN-sized frame."""
    grid = (
        sources.join(cell, "source", "left")
        .groupBy("source")
        .agg(*[
            F.coalesce(
                F.max(F.when(F.col("t") == i, F.col("ex"))), F.lit(0)
            ).alias(f"e{i}")
            for i in range(_ROUNDS)
        ])
    )
    w_expr = str(_W_SCALE)
    for i in range(_ROUNDS):
        w_expr = f"(({w_expr}) * ({_W_SCALE} + {_ETA}*e{i}) div {_W_SCALE})"
    wts = grid.select(
        "source",
        sum(F.col(f"e{i}") for i in range(_ROUNDS))
        .cast("long").alias("excess_millibits"),
        F.expr(w_expr).cast("long").alias("w_final"),
    )
    tot = wts.agg(F.sum("w_final").alias("s"))
    base = wts.crossJoin(F.broadcast(tot)).select(
        "source", "excess_millibits", "w_final",
        F.expr(f"(w_final * {_PPM}) div s").alias("floor_ppm"),
        F.expr(f"(w_final * {_PPM}) % s").alias("rem"),
    )
    short = base.agg(
        (F.lit(_PPM) - F.sum("floor_ppm")).alias("k")
    )
    ranked = base.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("rem"), "source")),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        F.col("excess_millibits").cast("long"),
        F.col("w_final").cast("long"),
        (F.col("floor_ppm")
         + F.when(F.col("rk") <= F.col("k"), 1).otherwise(0))
        .cast("long").alias("alpha_ppm"),
    )


@register(
    "n6_doremi_weights",
    oracle=_ORACLE_TMPL.format(t_expr="doc_id % 4"),
    survey="N6",
)
def n6_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting, exact-integer edition: per-token
    excess loss = max(0, proxy_bits - reference_bits) where
    proxy_bits = floor(log2(Ng/cg(w))) against the corpus-wide unigram
    LM and reference_bits the same against the token's own domain LM
    (both as bit_length(n//c) - 1, the exact floor-log2); four
    Group-DRO rounds each consume the round's batch (t = doc_id % 4 —
    the proxy's training order) and update the domain weight
    multiplicatively, w <- w * (10^6 + ETA*mean_excess_millibits) //
    10^6 in scaled int64 floor arithmetic (the integer stand-in for
    exp(eta*loss), exact to replay); the final mixture alpha is the
    largest-remainder share of 10^6 — the exact apportionment device
    the Hare-quota query certified.  100 TB shape: token counting is
    one token-keyed shuffle each for the global and per-domain LMs
    (vocabulary-sized outputs, co-partitioned scoring joins), the
    per-(domain, round) excess is one aggregate, and the weight
    recursion runs on a DOMAIN-sized frame — the loop never touches
    the corpus again."""
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(ta.tokens(F.col("text"))).alias("w")
    )
    cg, ng, cd, nd = _unigram_models(toks)
    cell = _cell_excess(
        toks.withColumn("t", F.col("doc_id") % 4), cg, ng, cd, nd
    )
    return _weights_from_cells(d.select("source").distinct(), cell)


# Slicing-DEPENDENT by design (the round IS the arriving batch), so the
# stream pins its own chunk count instead of the shared _CHUNKS.
_DOREMI_CHUNKS = 4


@register(
    "s_doremi_weights_stream",
    oracle=_ORACLE_TMPL.format(
        t_expr="(ROW_NUMBER() OVER (ORDER BY doc_id) - 1)"
               " // ((COUNT(*) OVER () + 3) // 4)"
    ),
    survey="N6 X2 X4",
    tags=("streaming",),
)
def s_doremi_weights_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doremi_stream_run(spark, sf_dir)


def _doremi_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """STREAMING DoReMi — the ONLINE mixture controller: the scorers
    (corpus-wide proxy + per-domain reference unigram LMs) are the
    fixed trained models, and each arriving micro-batch IS a Group-DRO
    round — the batch's per-domain mean excess appends to a bid-gated
    domain-sized ledger (crash-replay idempotent: re-running a batch
    overwrites its own round's rows, never another's), and after the
    drain the same multiplicative recursion + largest-remainder
    apportionment (shared helpers — the batch operator and the
    controller cannot drift) produces the mixture.  Deliberately
    slicing-DEPENDENT: the round boundary is the batch boundary, so
    the replay pins its own chunk count (4) and the oracle assigns
    t by the replay's exact equal-count split (rank // ceil(n/4)).
    At 100 TB the per-batch work is one scoring join against the
    broadcast vocabulary and one domain-sized aggregate; controller
    state never exceeds |domains| x rounds rows."""
    import os
    import shutil
    import uuid

    from ..operators import text_analysis as ta
    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _work_dir

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(ta.tokens(F.col("text"))).alias("w")
    )
    cg, ng, cd, nd = (
        x.localCheckpoint(eager=True)
        for x in _unigram_models(toks)
    )

    wd = _work_dir(sf_dir, "s_doremi")
    run = uuid.uuid4().hex[:8]
    ledger_dir = os.path.join(wd, f"ledger-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(spark, ledger_dir, compact_every=2)

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_DOREMI_CHUNKS, order_by=["doc_id"],
    )

    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        btoks = batch.select(
            "source",
            F.lit(bid).alias("t"),
            F.explode(ta.tokens(F.col("text"))).alias("w"),
        )
        store.append(_cell_excess(btoks, cg, ng, cd, nd), bid)
        if crash.fire(bid):
            # ledger state mutated, checkpoint uncommitted
            raise RuntimeError("injected crash after ledger append")

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    cell = store.read().localCheckpoint(eager=True)
    out = _weights_from_cells(
        d.select("source").distinct(), cell
    ).localCheckpoint(eager=True)
    shutil.rmtree(ledger_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
