"""Feedback-loop coverage: X8 iterate and W7 count windows.

Two SURVEY §2 rows previously declared "no Spark equivalent", landed
here as genuine equivalents:

* **X8 — DataStream.iterate()**: the generic bounded-iteration operator
  (operators/iterate.py) driving a frontier BFS over the customer⋈
  supplier trade graph. Oracled with a DuckDB recursive CTE.
* **W7 — triggers/evictors**: Flink ``countWindow`` on keyed state
  (streaming/count_window.py) — the count *trigger* (tumbling N-element
  windows) and the count *evictor* (keep-last-N sliding aggregate),
  both run as real Structured Streaming over the replayed event stream
  and both deterministic — hence oracled — because window content
  depends only on per-key arrival order.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup
from ..operators import iterate as it
from ..operators import kmeans as km
from ..registry import register
from ..streaming import count_window, replay, sinks
from ..streaming.proc_time_trigger import ProcTimeFirePurge
from ..tables import load_table
from .streaming_queries import _drain_to_memory, _events_stream, _work_dir

#: suppliers share the bigint node space with customers via this offset
#: (max custkey at sf1 is 150k, far below it)
_SUPP_OFFSET = 1_000_000


@register(
    "x8_iterate_bfs",
    oracle="""
    WITH RECURSIVE e0 AS (
      SELECT DISTINCT o.o_custkey AS c, l.l_suppkey + 1000000 AS s
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL
      SELECT s AS src, c AS dst FROM e0
    ), seeds AS (
      SELECT c_custkey AS node FROM customer WHERE c_nationkey = 0
    ), reach AS (
      SELECT node, 0 AS d FROM seeds
      UNION
      SELECT e.dst AS node, r.d + 1 AS d
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.d < 4
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS dist
    FROM reach GROUP BY node
    """,
    survey="X8",
)
def x8_iterate_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded feedback loop (Flink DataStream.iterate): min-hop BFS
    from nation-0 customers over the bipartite customer↔supplier trade
    graph (edge = supplier supplied an order of that customer), max 4
    hops. Each round is one key shuffle (frontier⋈edges + min-dist
    agg); ``localCheckpoint`` keeps the plan O(1) deep; the loop exits
    early when a frontier adds no nodes."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    e0 = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = customer.filter(F.col("c_nationkey") == 0).select(
        F.col("c_custkey").alias("node")
    )
    return it.bfs_distances(edges, seeds, max_hops=4)


@register(
    "s_count_tumble_stream",
    oracle="""
    WITH r AS (
      SELECT user_id, ts, value,
             (ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - 1) // 5 AS win_seq
      FROM events
    )
    SELECT user_id, CAST(win_seq AS BIGINT) AS win_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value,
           MAX(ts) AS close_ts
    FROM r GROUP BY user_id, win_seq
    HAVING COUNT(*) = 5
    """,
    survey="W7 X2",
    tags=("streaming",),
)
def s_count_tumble_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count trigger (W7): per-user tumbling 5-element count windows on
    keyed state — fire + purge on the 5th element, incomplete windows
    never fire (Flink ``countWindow(5)``). Oracle: complete
    ROW_NUMBER()-buckets of 5 in (ts, event_id) order."""
    sdf, wd = _events_stream(spark, sf_dir, "s_count_tumble")
    return _drain_to_memory(
        spark,
        count_window.streaming_count_tumble(sdf, size=5),
        "s_count_tumble_q",
        sinks.plan_sink("count_window").output_mode,
        wd,
    )


@register(
    "s_count_evictor_stream",
    oracle="""
    SELECT user_id, event_id, ts,
           CAST(COUNT(*) OVER w AS BIGINT) AS last_n,
           ROUND(SUM(value) OVER w, 6) AS last_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    survey="W7 X2",
    tags=("streaming",),
)
def s_count_evictor_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count evictor (W7): keep-last-3 sliding aggregate per user — each
    arriving row emits the SUM over itself and its two predecessors
    (Flink ``countWindow(3, 1)`` / ``CountEvictor.of(3)``). O(N) ring
    state per key. Oracle: a ROWS 2-PRECEDING window frame."""
    sdf, wd = _events_stream(spark, sf_dir, "s_count_evictor")
    return _drain_to_memory(
        spark,
        count_window.streaming_count_slide(sdf, size=3),
        "s_count_evictor_q",
        sinks.plan_sink("count_window").output_mode,
        wd,
    )


@register(
    "s_proc_time_trigger_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    )
    SELECT user_id,
           CAST(rn // (2 * ((n + 3) // 4)) AS BIGINT) AS fire_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM ordered
    GROUP BY 1, 2
    """,
    survey="W7 X2",
    tags=("streaming",),
)
def s_proc_time_trigger_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processing-time trigger + purge (W7): Flink
    ``ContinuousProcessingTimeTrigger`` with FIRE_AND_PURGE, run on the
    micro-batch clock — each micro-batch is one processing-time tick, the
    per-user count/sum state accumulates across ticks, fires every 2nd
    tick, and purges on fire (streaming/proc_time_trigger.py). The replay
    is (ts, event_id)-ordered into 4 single-file batches, so which rows
    land in which tick is deterministic, and the oracle reproduces the
    tick assignment arithmetically: row rank // (2 × chunk size) =
    fire_seq. Unfired leftovers emit nothing, matching Flink."""
    import shutil
    import uuid

    wd = _work_dir(sf_dir, "s_proctime")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=4, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    trig = ProcTimeFirePurge(spark, wd, ["user_id"], "value", every=2)
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(sdf, trig, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    return trig.fired_df()


@register(
    "s_proc_time_accumulate_stream",
    oracle="""
    WITH ordered AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ), fires(fire_seq) AS (VALUES (0), (1))
    SELECT user_id, CAST(fire_seq AS BIGINT) AS fire_seq,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value
    FROM ordered CROSS JOIN fires
    WHERE rn < 2 * ((n + 3) // 4) * (fire_seq + 1)
    GROUP BY user_id, fire_seq
    """,
    survey="W7 X2",
    tags=("streaming",),
)
def s_proc_time_accumulate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accumulating processing-time trigger (W7): Flink's
    ``ContinuousProcessingTimeTrigger`` WITHOUT a purging evictor — each
    fire emits the running per-user totals over everything seen so far
    (fires 0 and 1 here overlap; fire 1 covers all four ticks). Same
    deterministic micro-batch clock and tick-range fire inputs as the
    FIRE_AND_PURGE twin; the oracle states each fire as a prefix
    aggregate of the (ts, event_id)-ordered arrival sequence."""
    import shutil
    import uuid

    wd = _work_dir(sf_dir, "s_proctime_acc")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=4, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    trig = ProcTimeFirePurge(spark, wd, ["user_id"], "value", every=2,
                             purge=False)
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_foreach_batch(sdf, trig, checkpoint_dir=ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    return trig.fired_df()


@register(
    "x8_kmeans_embeddings",
    oracle=km.kmeans_oracle_sql(k=4, rounds=3),
    survey="X8 N3",
)
def x8_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4, 3 Lloyd rounds) over the 64-d embeddings — the
    iterative-ML instance of the X8 feedback loop, bit-exact against a
    generated DuckDB unrolling of the same rounds (quantized-exact
    arithmetic throughout; see operators/kmeans.py for the determinism
    recipe and the 100 TB BLAS-assignment variant this verifies)."""
    e = load_table(spark, sf_dir, "embeddings")
    corpus = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("xf").cast("double"), 6).alias("x"),
    )
    return km.kmeans_long(corpus, k=4, rounds=3)


_PR_SCALE = 1_000_000_000_000  # fixed-point 1e12: all PageRank math integer


def _pagerank_oracle(rounds: int = 2) -> str:
    head = f"""
    WITH e0 AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey + {_SUPP_OFFSET} AS s
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ), edges AS (
      SELECT c AS src, s AS dst FROM e0
      UNION ALL SELECT s AS src, c AS dst FROM e0
    ), nodes AS (SELECT DISTINCT src AS v FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    pr0 AS (SELECT v, {_PR_SCALE} // nn.n AS pr FROM nodes, nn)
    """
    body = ""
    for i in range(1, rounds + 1):
        prev = f"pr{i - 1}"
        body += f""",
    r{i} AS (
      SELECT e.dst AS v, SUM(p.pr // o.d) AS incoming
      FROM {prev} p
      JOIN outdeg o ON o.src = p.v
      JOIN edges e ON e.src = p.v
      GROUP BY e.dst
    ), pr{i} AS (
      SELECT nd.v,
             (150 * ({_PR_SCALE} // (SELECT n FROM nn))) // 1000
             + (850 * COALESCE(r.incoming, 0)) // 1000 AS pr
      FROM nodes nd LEFT JOIN r{i} r ON r.v = nd.v
    )"""
    return head + body + f"""
    SELECT v AS node, CAST(pr AS BIGINT) AS pr FROM pr{rounds}
    """


@register("x8_pagerank", oracle=_pagerank_oracle(), survey="X8")
def x8_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank (2 rounds, damping 0.85) over the
    customer↔supplier trade graph — the second classic X8 feedback loop
    beside BFS. Every quantity is scaled-integer (1e12 fixed point) with
    floor division, so the iteration is BIT-EXACT across engines and
    partitionings — no float summation order, no decimal division scale
    rules — and the oracle unrolls the same recurrence in SQL. Per
    round: one join-shuffle on src (shares) + one agg on dst; plan depth
    stays O(1) via localCheckpoint."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(
            F.col("o_custkey").alias("c"),
            (F.col("l_suppkey") + _SUPP_OFFSET).alias("s"),
        )
        .distinct()
    )
    edges = e0.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionByName(
        e0.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("v")).distinct()
    n = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    base = (150 * (_PR_SCALE // n)) // 1000
    pr = nodes.withColumn("pr", F.lit(_PR_SCALE // n))
    outdeg = outdeg.select(F.col("src").alias("od_src"), "d")
    e = edges.select(F.col("src").alias("e_src"), "dst")
    for _ in range(2):
        shares = (
            pr.join(outdeg, pr["v"] == F.col("od_src"))
            .join(e, pr["v"] == F.col("e_src"))
            .select(F.col("dst").alias("v"), F.expr("pr DIV d").alias("share"))
        )
        incoming = shares.groupBy("v").agg(F.sum("share").alias("incoming"))
        pr = (
            nodes.join(incoming, "v", "left")
            .select(
                "v",
                (
                    F.lit(base)
                    + F.expr("850 * coalesce(incoming, 0L) DIV 1000")
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return pr.select(F.col("v").alias("node"), F.col("pr").cast("long").alias("pr"))


@register(
    "s_state_ttl_hint_join",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ), ticks AS (
      SELECT event_id, user_id, event_type,
             CAST(rn // ((n + 7) // 8) AS BIGINT) AS tick
      FROM ordered
    ), a AS (
      SELECT event_id AS a_event_id, user_id, tick AS a_tick
      FROM ticks WHERE event_type = 'view'
    ), b AS (
      SELECT event_id AS b_event_id, user_id, tick AS b_tick
      FROM ticks WHERE event_type = 'purchase'
    )
    SELECT a.user_id, a_event_id, b_event_id,
           CAST(a_tick AS INTEGER) AS a_tick,
           CAST(b_tick AS INTEGER) AS b_tick
    FROM a JOIN b ON a.user_id = b.user_id
    WHERE (b_tick <= a_tick AND b_tick >= a_tick - 1)
       OR (a_tick < b_tick AND a_tick >= b_tick - 2)
    """,
    survey="S12 X3",
    tags=("streaming",),
)
def s_state_ttl_hint_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink 1.19 FLIP-373: per-operator state TTL via the STATE_TTL
    query hint — the VERBATIM Flink statement

        SELECT /*+ STATE_TTL('v'='3s', 'p'='2s') */ ...
        FROM views v JOIN purchases p ON v.user_id = p.user_id

    parses through the dialect layer (functions/flink_sql.
    parse_state_ttl — malformed items raise, they don't default to
    infinite retention) and drives a regular UNWINDOWED stream-stream
    join whose sides expire INDEPENDENTLY: view-side state lives 3
    processing-time ticks, purchase-side 2 (streaming/state_ttl_join
    .py; micro-batch tick = the repo-wide deterministic proc-time
    clock, 1 tick == 1s declared).  A view matches purchases that
    arrive while it is live and vice versa — the asymmetric retention
    FLIP-373 added over the pipeline-wide TTL.  The replay is
    (ts, event_id)-ordered into 8 single-file batches, so the oracle
    reproduces tick assignment arithmetically (rn // chunk) and
    replays the live-range condition as a plain inequality join.
    State on disk is bounded by max(ttl) ticks — eviction runs every
    batch, which at 100 TB is the entire point of the hint."""
    return _state_ttl_run(spark, sf_dir)


def _state_ttl_run(
    spark: SparkSession, sf_dir: str, crash_once_at: int | None = None
) -> DataFrame:
    import shutil

    from ..functions.flink_sql import parse_state_ttl
    from ..streaming.state_ttl_join import StateTtlJoin

    sql = (
        "SELECT /*+ STATE_TTL('v'='3s', 'p'='2s') */ "
        "v.event_id AS a_event_id, p.event_id AS b_event_id, v.user_id "
        "FROM views v JOIN purchases p ON v.user_id = p.user_id"
    )
    _, ttls = parse_state_ttl(sql)
    assert ttls == {"v": 3, "p": 2}, ttls

    run = "crash" if crash_once_at is not None else "clean"
    wd = _work_dir(sf_dir, f"s_state_ttl_{run}")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=8, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    join = StateTtlJoin(
        spark, wd, "user_id",
        left_pred=F.col("event_type") == "view",
        right_pred=F.col("event_type") == "purchase",
        ttl_left=ttls["v"], ttl_right=ttls["p"],
        left_cols=[F.col("event_id").alias("a_event_id")],
        right_cols=[F.col("event_id").alias("b_event_id")],
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(df: DataFrame, batch_id: int) -> None:
        join(df, batch_id)
        if crash.fire(batch_id):
            # worst spot: state dirs, output dir AND eviction all
            # applied, checkpoint unmarked — the replay re-runs the
            # whole batch on top of the mutated disk state
            raise RuntimeError("injected crash after full batch effects")

    ckpt = os.path.join(wd, "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    for d in ("stateL", "stateR", "out"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    return join.result_df()


@register(
    "s_state_ttl_hint_agg",
    oracle="""
    WITH ordered AS (
      SELECT event_id, user_id, event_type,
             ROW_NUMBER() OVER (ORDER BY ts, event_id) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM events
    ), ticks AS (
      SELECT user_id, CAST(rn // ((n + 7) // 8) AS BIGINT) AS tick,
             event_id % 97 AS v
      FROM ordered WHERE event_type = 'signup'
    ), upd AS (
      SELECT user_id, tick, COUNT(*) AS c, SUM(v) AS s
      FROM ticks GROUP BY user_id, tick
    ), seg AS (
      SELECT user_id, tick, c, s,
             SUM(CASE WHEN pt IS NULL OR tick - pt >= 2 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY tick) AS seg_id
      FROM (SELECT *, LAG(tick) OVER (PARTITION BY user_id ORDER BY tick)
                        AS pt
            FROM upd)
    ), last_seg AS (
      SELECT user_id, MAX(seg_id) AS seg_id FROM seg GROUP BY user_id
    )
    SELECT g.user_id, CAST(SUM(g.c) AS BIGINT) AS cnt,
           CAST(SUM(g.s) AS BIGINT) AS sum_val,
           CAST(MAX(g.tick) AS INTEGER) AS last_tick
    FROM seg g JOIN last_seg l
      ON g.user_id = l.user_id AND g.seg_id = l.seg_id
    GROUP BY g.user_id
    """,
    survey="S12 X3",
    tags=("streaming",),
)
def s_state_ttl_hint_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLIP-373's OTHER named target: per-operator state TTL on an
    unwindowed GROUP BY aggregation — the verbatim Flink statement

        SELECT /*+ STATE_TTL('e'='2s') */ user_id, COUNT(*), SUM(...)
        FROM events e WHERE event_type = 'signup' GROUP BY user_id

    parses through the same dialect hook as the join twin and drives a
    keyed running aggregate whose ACCUMULATOR expires 2 proc-time ticks
    after its last update (OnCreateAndWrite + NeverReturnExpired): a
    user whose signup events pause >= 2 ticks restarts the count from
    zero — bounded state in exchange for a windowless aggregate, the
    trade the hint exists to buy.  122 of the 150 users reset at least
    once on this replay, so the expiry path carries real weight.  The
    oracle replays tick assignment arithmetically and the TTL as a
    gap-segmentation (LAG + running break count), aggregating each
    user's LAST segment.  Streaming state per tick holds only live
    accumulators (state/tick-b, overwrite ⇒ crash-replay idempotent,
    reads touch exactly tick b-1); the drained answer takes each key's
    final emission.  See streaming/state_ttl_join.StateTtlAgg."""
    return _state_ttl_agg_run(spark, sf_dir)


def _state_ttl_agg_run(
    spark: SparkSession, sf_dir: str, crash_once_at: int | None = None
) -> DataFrame:
    import shutil

    from ..functions.flink_sql import parse_state_ttl
    from ..streaming.state_ttl_join import StateTtlAgg

    sql = (
        "SELECT /*+ STATE_TTL('e'='2s') */ user_id, COUNT(*) AS cnt, "
        "SUM(event_id % 97) AS sum_val FROM events e "
        "WHERE event_type = 'signup' GROUP BY user_id"
    )
    _, ttls = parse_state_ttl(sql)
    assert ttls == {"e": 2}, ttls

    run = "crash" if crash_once_at is not None else "clean"
    wd = _work_dir(sf_dir, f"s_state_ttl_agg_{run}")
    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"),
        chunks=8, files_per_trigger=1, order_by=["ts", "event_id"],
    )
    agg = StateTtlAgg(
        spark, wd, "user_id", ttl=ttls["e"],
        val=(F.col("event_id") % 97).cast("long"),
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(df: DataFrame, batch_id: int) -> None:
        agg(df.filter(F.col("event_type") == "signup"), batch_id)
        if crash.fire(batch_id):
            raise RuntimeError("injected crash after full batch effects")

    ckpt = os.path.join(wd, "ckpt")
    for d in ("aggstate", "aggout", "ckpt"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    return agg.result_df()


@register(
    "x8_cc_two_phase",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\\s+'), t -> t <> '') AS tk
      FROM documents WHERE doc_id < 200
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(tk) >= 3 THEN
          list_transform(range(0, len(tk) - 2),
                         i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
        ELSE [array_to_string(tk, ' ')] END) AS shingles
      FROM toks
    ), ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), edges AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.2
    ), und AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), reach AS (
      WITH RECURSIVE r AS (
        SELECT src, dst FROM und
        UNION
        SELECT r.src, u.dst FROM r JOIN und u ON r.dst = u.src
      ) SELECT * FROM r
    )
    SELECT src AS id, LEAST(src, MIN(dst)) AS component
    FROM reach GROUP BY src
    """,
    survey="N2 X8",
)
def x8_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via ALTERNATING STAR rounds [Kiveris et al.
    2014 — the web-scale CC algorithm] over the same exact-Jaccard
    near-dup graph as n2_dedup_clusters: large-star hangs bigger
    neighbors onto each node's closed-neighborhood min, small-star
    re-hangs the rest; alternation converges in O(log n) ROUNDS on any
    graph — including the adversarial long chains where the min-label
    propagation variant needs O(diameter) rounds.  Fixpoint detected by
    an edge-multiset signature (count + order-independent hash sum, two
    scalar aggregates); per round: two node-keyed shuffles.
    tests/test_r8_tail.py pins star == propagation on this graph AND on
    a crafted 64-node path (6 rounds, not 63)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    return dedup.connected_components_star(pairs).select("id", "component")
