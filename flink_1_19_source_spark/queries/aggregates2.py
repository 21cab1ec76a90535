"""Aggregate-surface extensions (SURVEY §2.4 / §2.8-json).

Flink 1.19 built-in aggregate functions beyond the std/collect tier:
``JSON_OBJECTAGG`` / ``JSON_ARRAYAGG`` (SQL:2016 JSON aggregates, in the
1.19 function catalog) and ``ARRAY_AGG`` (added 1.18) — all expressed as
compositions of Spark collect aggregates + ``to_json``; plus the
engine-portable Bloom membership sketch (operators/sketches.py), the
runtime-filter/dedup-prefilter sibling of the portable HLL.

JSON aggregates are order-sensitive in SQL but Flink's emission order is
arrival order (nondeterministic under parallelism), so both engines here
pin a deterministic ORDER BY — the same normalization any distributed
engine must apply for a reproducible JSON aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators import sketches
from ..registry import register
from ..tables import load_table


def _read_sketch_state(spark: SparkSession, path: str):
    """Read the persistent sketch-state table, or None on first batch.

    Only a genuinely-missing path means "first batch"; any other read
    error (corrupt file, permission, OOM) must propagate — swallowing it
    would silently discard accumulated sketch state and break the
    crash-replay convergence the stream folds claim.  If the main path
    is missing but a fully-written ``.tmp*`` survivor exists (a crash in
    the swap window below), recover from the newest one.
    """
    import glob as _glob
    import os

    from pyspark.errors import AnalysisException

    def _try(p: str):
        try:
            return spark.read.parquet(p)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
                return None
            raise

    cur = _try(path)
    if cur is not None:
        return cur
    tmps = sorted(_glob.glob(path + ".tmp*"), key=os.path.getmtime)
    return _try(tmps[-1]) if tmps else None


def _swap_sketch_state(path: str, tmp: str, bid: int) -> None:
    """Atomically install ``tmp`` as the new state dir: rename the
    current dir aside, rename tmp in, then delete the old dir.  The
    state is never deleted before its replacement is fully written, so
    a crash at any point leaves either the old state at ``path`` or the
    complete new state at ``tmp`` (recovered by _read_sketch_state)."""
    import os
    import shutil

    old = path + f".old{bid}"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


@register(
    "a13_jsonagg_family",
    oracle="""
    WITH per AS (
      SELECT o_orderstatus, o_orderpriority AS k, COUNT(*) AS v
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    )
    SELECT o_orderstatus,
           '{' || string_agg('"' || k || '":' || CAST(v AS VARCHAR), ','
                             ORDER BY k) || '}' AS obj_json,
           '[' || string_agg(CAST(v AS VARCHAR), ',' ORDER BY v) || ']'
             AS arr_json,
           array_to_string(list_sort(array_agg(k)), ',') AS prio_arr,
           CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM per
    GROUP BY o_orderstatus
    """,
    survey="A5 A8 2.8-json",
)
def a13_jsonagg_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON_OBJECTAGG(k VALUE v) / JSON_ARRAYAGG(v) / ARRAY_AGG(k):
    per-status priority histograms rendered as JSON objects, JSON arrays
    and typed arrays. Spark shape: the inner (status, priority) count is
    one partial+final agg; the outer collect aggregates see ≤ |priorities|
    rows per group, so the collected state is bounded — the same two-level
    shape a 100 TB JSON_OBJECTAGG needs (never collect raw rows)."""
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("v")
    )
    return per.groupBy("o_orderstatus").agg(
        F.to_json(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("o_orderpriority").alias("k"),
                            F.col("v").alias("v"),
                        )
                    )
                )
            )
        ).alias("obj_json"),
        F.to_json(F.array_sort(F.collect_list("v"))).alias("arr_json"),
        F.array_join(F.array_sort(F.collect_list("o_orderpriority")), ",").alias(
            "prio_arr"
        ),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
    )


_BLOOM_M, _BLOOM_K = 4096, 3


def _bloom_oracle() -> str:
    m, k = _BLOOM_M, _BLOOM_K
    build = ", ".join(sketches._bloom_pos_duck("x", i, m) for i in range(k))
    return f"""
    WITH src AS (SELECT DISTINCT o_custkey AS x FROM orders),
    bits AS (
      SELECT DISTINCT bit FROM (SELECT UNNEST([{build}]) AS bit FROM src)
    ),
    probe AS (SELECT DISTINCT c_custkey AS x FROM customer),
    ppos AS (
      SELECT DISTINCT x, bit
      FROM (SELECT x, UNNEST([{build}]) AS bit FROM probe)
    ),
    memb AS (
      SELECT p.x, COUNT(*) AS n_pos, COUNT(b.bit) AS n_hit
      FROM ppos p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY p.x
    ),
    verdicts AS (
      SELECT x, n_hit = n_pos AS member,
             x IN (SELECT x FROM src) AS true_member
      FROM memb
    )
    SELECT {m} AS m,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_set_bits,
           CAST(COUNT(*) AS BIGINT) AS n_probed,
           CAST(SUM(CASE WHEN true_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_members,
           CAST(SUM(CASE WHEN member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_positive,
           CAST(SUM(CASE WHEN true_member AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negative
    FROM verdicts
    """


@register("a14_bloom_portable", oracle=_bloom_oracle(), survey="A9 N1")
def a14_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable Bloom filter (operators/sketches.py): build the
    bit set over the custkeys that placed orders, probe with every
    customer. The bit positions are md5-derived on both engines, so the
    per-key membership VERDICTS (not just counts) are identical — the
    driver hash certifies n_bloom_positive exactly, including the sketch's
    false positives. n_false_negative is structurally 0 (the Bloom
    guarantee); the oracle pins that too. At 100 TB this is the broadcast
    pre-filter for have-we-seen-this-key dedup: ≤ m rows shuffle during
    the build, probes never shuffle."""
    m, k = _BLOOM_M, _BLOOM_K
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    bits = sketches.bloom_bits(o, "o_custkey", m=m, k=k)
    verdicts = sketches.bloom_probe(c, "c_custkey", bits, m=m, k=k)
    true_members = o.select(F.col("o_custkey").alias("key")).distinct().withColumn(
        "_t", F.lit(1)
    )
    v = verdicts.join(F.broadcast(true_members), "key", "left").select(
        "member", F.col("_t").isNotNull().alias("true_member")
    )
    n_set = bits.agg(F.count(F.lit(1)).cast("long").alias("n_set_bits"))
    agg = v.agg(
        F.lit(m).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_probed"),
        F.sum(F.when(F.col("true_member"), 1).otherwise(0))
        .cast("long")
        .alias("n_true_members"),
        F.sum(F.when(F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_positive"),
        F.sum(F.when(F.col("true_member") & ~F.col("member"), 1).otherwise(0))
        .cast("long")
        .alias("n_false_negative"),
    )
    return agg.crossJoin(n_set)


@register(
    "a15_agg_filter",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
             AS n_urgent,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                FILTER (WHERE o_totalprice > 100000) AS DOUBLE) AS big_total,
           CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice < 50000)
                AS BIGINT) AS n_cust_small
    FROM orders
    GROUP BY o_orderstatus
    """,
    survey="A5 A3",
)
def a15_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause (Flink `agg FILTER (WHERE ...)` [docs:
    queries/group-agg]): per-group conditional aggregates — including a
    filtered DISTINCT — in ONE pass, the planner's alternative to N
    self-joined subqueries. Same single partial+final agg shape; the
    filter predicates evaluate map-side inside codegen."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("a15_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_all,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                    FILTER (WHERE o_totalprice > 100000) AS DOUBLE) AS big_total,
               COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice < 50000)
                 AS n_cust_small
        FROM a15_orders
        GROUP BY o_orderstatus
        """
    )


def _hll_rollup_oracle(b: int = 8) -> str:
    m = 1 << b
    fbits = 60 - b
    scale = 1 << (fbits + 1)
    from ..operators.sketches import _alpha

    alpha_num = _alpha(m) * m * m * scale
    est = (
        f"ROUND(CASE WHEN ({alpha_num!r} / (CAST(sum_present AS DOUBLE)"
        f" + CAST(v_empty AS DOUBLE) * {float(scale)!r})) <= {2.5 * m!r}"
        f" AND v_empty > 0"
        f" THEN {float(m)!r} * LN({float(m)!r} / v_empty)"
        f" ELSE {alpha_num!r} / (CAST(sum_present AS DOUBLE)"
        f" + CAST(v_empty AS DOUBLE) * {float(scale)!r}) END, 4)"
    )
    return f"""
    WITH pre AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
             CAST(date_trunc('day', ts) AS DATE) AS day,
             h & {m - 1} AS idx, h >> {b} AS w
      FROM (
        SELECT ts, CAST(CONCAT('0x', SUBSTRING(md5(CAST(user_id AS VARCHAR)
                     || ':' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT)
                 AS h
        FROM events
      )
    ), rho AS (
      SELECT week, day, idx,
             CASE WHEN w = 0 THEN {fbits + 1}
                  ELSE {fbits} + 1 - LENGTH(bin(w)) END AS rho
      FROM pre
    ), daily_regs AS (
      -- the stored per-day sketch tables: (day, idx, mj)
      SELECT week, day, idx, MAX(rho) AS mj FROM rho GROUP BY week, day, idx
    ), weekly_regs AS (
      -- rollup = register-wise MAX merge of the daily sketches
      SELECT week, idx, MAX(mj) AS mj FROM daily_regs GROUP BY week, idx
    ), agg AS (
      SELECT week,
             SUM(CAST((1::BIGINT << ({fbits} + 1 - mj)) AS DECIMAL(38,0)))
               AS sum_present,
             {m} - COUNT(*) AS v_empty
      FROM weekly_regs GROUP BY week
    )
    SELECT CAST(week AS VARCHAR) AS week,
           CAST(v_empty AS BIGINT) AS v_empty,
           {est} AS estimate,
           (SELECT CAST(COUNT(DISTINCT day) AS BIGINT) FROM daily_regs d
             WHERE d.week = agg.week) AS n_daily_sketches
    FROM agg
    """


@register("a9d_hll_merge_rollup", oracle=_hll_rollup_oracle(), survey="A9 A1")
def a9d_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-table rollup — THE 100 TB distinct-count architecture:
    per-DAY portable-HLL register tables are materialized once (≤ m rows
    each), then weekly distinct-user-event estimates come from merging
    the daily sketches by register-wise MAX — the raw events are never
    rescanned. Both the merge and the resulting ESTIMATES are
    value-hash-oracled (DuckDB rebuilds the same daily registers and
    merges them identically); a9c certifies the single-shot sketch, this
    certifies the mergeability that makes it a rollup workhorse."""
    b = 8
    m = 1 << b
    fbits = 60 - b
    scale = 1 << (fbits + 1)
    from ..operators.sketches import _alpha

    e = load_table(spark, sf_dir, "events")
    h = (
        "CAST(conv(substring(md5(CAST(user_id AS STRING) || ':' ||"
        " CAST(event_id AS STRING)),1,15),16,10) AS BIGINT)"
    )
    pre = e.select(
        F.date_trunc("week", "ts").cast("date").alias("week"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.expr(f"{h} & {m - 1}").alias("idx"),
        F.expr(f"shiftright({h}, {b})").alias("w"),
    ).select(
        "week",
        "day",
        "idx",
        F.when(F.col("w") == 0, F.lit(fbits + 1))
        .otherwise(F.lit(fbits) + 1 - F.length(F.expr("bin(w)")))
        .alias("rho"),
    )
    daily = pre.groupBy("week", "day", "idx").agg(F.max("rho").alias("mj"))
    daily = daily.localCheckpoint(eager=True)  # the stored sketch tables
    weekly = daily.groupBy("week", "idx").agg(F.max("mj").alias("mj"))
    agg = weekly.groupBy("week").agg(
        F.sum(
            F.expr(f"CAST(shiftleft(1L, {fbits} + 1 - mj) AS DECIMAL(38,0))")
        ).alias("sum_present"),
        (F.lit(m) - F.count(F.lit(1))).alias("v_empty"),
    )
    total = (
        F.col("sum_present").cast("double")
        + F.col("v_empty").cast("double") * F.lit(float(scale))
    )
    e_raw = F.lit(_alpha(m) * m * m * scale) / total
    estimate = F.when(
        (e_raw <= 2.5 * m) & (F.col("v_empty") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_empty")),
    ).otherwise(e_raw)
    n_daily = daily.select("week", "day").distinct().groupBy("week").agg(
        F.count(F.lit(1)).alias("n_daily_sketches")
    )
    return (
        agg.join(n_daily, "week")
        .select(
            F.col("week").cast("string").alias("week"),
            F.col("v_empty").cast("long").alias("v_empty"),
            F.round(estimate, 4).alias("estimate"),
            "n_daily_sketches",
        )
    )


def _s_hll_oracle() -> str:
    from ..operators.sketches import hll_oracle_sql

    return hll_oracle_sql("events", "event_id", b=8)


@register(
    "s_hll_stream_rollup",
    oracle=_s_hll_oracle(),
    survey="A9 X2 X4",
    tags=("streaming",),
)
def s_hll_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING distinct-count sketch: each micro-batch folds its rows
    into per-register maxima and MAX-merges them into a tiny persistent
    register table (≤ 256 rows) — the mergeable-HLL property applied
    incrementally. Because register max-merge is commutative/idempotent,
    any batch slicing or crash-replay converges to the register table of
    the whole stream, so the final ESTIMATE hash-matches the one-shot
    batch sketch (the oracle). This is the 100 TB continuous
    distinct-users dashboard: O(m) state, O(batch) work, no raw-data
    retention."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from . import streaming_queries as _sq
    from .streaming_queries import _work_dir

    b = 8
    m = 1 << b
    fbits = 60 - b
    wd = _work_dir(sf_dir, "s_hll")
    run = uuid.uuid4().hex[:8]
    regs_path = os.path.join(wd, f"regs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        files_per_trigger=2,
    )
    h = f"CAST(conv(substring(md5(CAST(event_id AS STRING)),1,15),16,10) AS BIGINT)"

    def fold(batch, bid: int) -> None:
        batch_regs = (
            batch.select(
                F.expr(f"{h} & {m - 1}").alias("idx"),
                F.expr(f"shiftright({h}, {b})").alias("w"),
            )
            .select(
                "idx",
                F.when(F.col("w") == 0, F.lit(fbits + 1))
                .otherwise(F.lit(fbits) + 1 - F.length(F.expr("bin(w)")))
                .alias("mj"),
            )
            .groupBy("idx")
            .agg(F.max("mj").alias("mj"))
        )
        cur = _read_sketch_state(spark, regs_path)
        if cur is not None:
            merged = (
                cur.unionByName(batch_regs)
                .groupBy("idx")
                .agg(F.max("mj").alias("mj"))
            )
        else:
            merged = batch_regs
        # tiny table (≤ m rows): versioned rewrite, replay-idempotent
        # (max-merge of already-folded rows is a no-op)
        tmp = regs_path + f".tmp{bid}"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        _swap_sketch_state(regs_path, tmp, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    # estimate from the register table, via the same estimator expression
    # as the one-shot sketch: feed hll_distinct a reconstruction? simpler:
    # compute directly from the registers (same formula as sketches.py)
    from ..operators.sketches import _alpha

    scale = 1 << (fbits + 1)
    regs = spark.read.parquet(regs_path)
    agg = regs.agg(
        F.sum(
            F.expr(f"CAST(shiftleft(1L, {fbits} + 1 - mj) AS DECIMAL(38,0))")
        ).alias("sum_present"),
        (F.lit(m) - F.count(F.lit(1))).alias("v_empty"),
    )
    total = (
        F.col("sum_present").cast("double")
        + F.col("v_empty").cast("double") * F.lit(float(scale))
    )
    e_raw = F.lit(_alpha(m) * m * m * scale) / total
    estimate = F.when(
        (e_raw <= 2.5 * m) & (F.col("v_empty") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_empty")),
    ).otherwise(e_raw)
    out = agg.select(
        F.lit(m).alias("m"),
        F.col("v_empty").cast("long").alias("v_empty"),
        F.round(estimate, 4).alias("estimate"),
    ).localCheckpoint(eager=True)
    shutil.rmtree(regs_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def _s_bloom_oracle() -> str:
    m, k = _BLOOM_M, _BLOOM_K
    build = ", ".join(
        sketches._bloom_pos_duck("x", i, m) for i in range(k)
    )
    return f"""
    WITH src AS (SELECT DISTINCT user_id AS x FROM events),
    bits AS (
      SELECT DISTINCT bit FROM (SELECT UNNEST([{build}]) AS bit FROM src)
    ),
    probe AS (SELECT DISTINCT c_custkey AS x FROM customer WHERE c_custkey <= 400),
    ppos AS (
      SELECT DISTINCT x, bit
      FROM (SELECT x, UNNEST([{build}]) AS bit FROM probe)
    ),
    memb AS (
      SELECT p.x, COUNT(*) AS n_pos, COUNT(b.bit) AS n_hit
      FROM ppos p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY p.x
    )
    SELECT x AS probe_key, n_hit = n_pos AS member FROM memb
    """


@register(
    "s_bloom_stream_filter",
    oracle=_s_bloom_oracle(),
    survey="A9 N1-S X2",
    tags=("streaming",),
)
def s_bloom_stream_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Bloom maintenance — the have-we-seen-this-key filter
    kept fresh continuously: each micro-batch ORs its keys' bit
    positions into a ≤ m-row persistent bit set (set union per batch —
    commutative and idempotent, so any slicing or replay converges to
    the whole-stream filter). The final per-key membership VERDICTS over
    a probe set hash-match the one-shot filter (the oracle), false
    positives included. 100 TB: the streaming dedup pre-filter that
    never touches history."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from . import streaming_queries as _sq
    from .streaming_queries import _work_dir

    m, k = _BLOOM_M, _BLOOM_K
    wd = _work_dir(sf_dir, "s_bloom")
    run = uuid.uuid4().hex[:8]
    bits_path = os.path.join(wd, f"bits-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        files_per_trigger=2,
    )

    def fold(batch, bid: int) -> None:
        batch_bits = sketches.bloom_bits(batch, "user_id", m=m, k=k)
        cur = _read_sketch_state(spark, bits_path)
        if cur is not None:
            merged = cur.unionByName(batch_bits).distinct()
        else:
            merged = batch_bits
        tmp = bits_path + f".tmp{bid}"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        _swap_sketch_state(bits_path, tmp, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    bits = spark.read.parquet(bits_path)
    probe = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") <= 400
    )
    verdicts = (
        sketches.bloom_probe(probe, "c_custkey", bits, m=m, k=k)
        .select(F.col("key").alias("probe_key"), "member")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(bits_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return verdicts


@register(
    "a7b_listagg_distinct",
    oracle="""
    SELECT o_orderstatus,
           string_agg(DISTINCT o_orderpriority, ', ' ORDER BY o_orderpriority)
             AS priorities,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_distinct
    FROM orders GROUP BY o_orderstatus
    """,
    survey="A7 A3",
)
def a7b_listagg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG(DISTINCT x, sep) (Flink supports DISTINCT inside LISTAGG
    [docs: group-agg]): distinct values joined in a pinned order —
    collect_set + sort + concat_ws, the dedup happening in the agg
    buffer (bounded by distinct count, not rows)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.concat_ws(", ", F.array_sort(F.collect_set("o_orderpriority"))).alias(
            "priorities"
        ),
        F.countDistinct("o_orderpriority").alias("n_distinct"),
    )


_BK_K = 200
_BK_PRI_DUCK = (
    "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))"
    " AS BIGINT)"
)


def _bottomk_quantile_oracle() -> str:
    return f"""
    WITH pri AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY {_BK_PRI_DUCK}, event_id) AS rn
      FROM events WHERE value IS NOT NULL
    ), samp AS (
      SELECT event_type, value FROM pri WHERE rn <= {_BK_K}
    ), g AS (
      SELECT event_type, ARRAY_AGG(value ORDER BY value) AS vs,
             COUNT(*) AS n
      FROM samp GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_sample,
           vs[CAST(FLOOR(0.25 * (n - 1)) AS BIGINT) + 1] AS est_p25,
           vs[CAST(FLOOR(0.5 * (n - 1)) AS BIGINT) + 1] AS est_p50,
           vs[CAST(FLOOR(0.9 * (n - 1)) AS BIGINT) + 1] AS est_p90
    FROM g
    """


@register(
    "a16_quantile_sketch",
    oracle=_bottomk_quantile_oracle(),
    survey="A9 A5",
    tags=("approx",),
)
def a16_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch — the percentile analog of the portable
    HLL (a9c) and Bloom (a14): a per-group bottom-k sample keyed by md5
    priority [Bar-Yossef et al., bottom-k sketches].  Because "the k
    smallest hashes" of a union equal the bottom-k of the parts'
    bottom-k's, the sample is commutative/idempotent-mergeable — the
    algebra that makes sketch ROLLUPS work — and quantile estimates are
    nearest-rank picks from the sorted sample.  Deterministic (row-
    identity hashing, no RNG), so fully value-hash-oracled: DuckDB
    replays the exact sample AND the exact estimates.  Scale: rank-limit
    prunes to k rows per group map-side; only 5·k rows shuffle."""
    e = load_table(spark, sf_dir, "events")
    samp = sketches.bottomk_sample(e, "event_type", "value", "event_id", k=_BK_K)
    return sketches.bottomk_quantiles(samp, "event_type", "value")


@register(
    "s_quantile_sketch_stream",
    oracle=_bottomk_quantile_oracle(),
    survey="A9 X2 X4",
    tags=("streaming",),
)
def s_quantile_sketch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING quantile-sketch maintenance: each micro-batch's
    bottom-k joins the persistent per-group sample, and the union is
    re-bottom-k'd — state stays ≤ groups×k rows forever (the mergeable
    property applied incrementally, exactly like the HLL register
    max-merge in s_hll_stream_rollup).  Union + re-select is
    commutative and idempotent, so any batch slicing or crash replay
    converges to the whole-stream sample, and the final estimates
    hash-match the one-shot batch sketch (the oracle).  100 TB: the
    continuous latency-percentile dashboard with O(k) state per key."""
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from . import streaming_queries as _sq
    from .streaming_queries import _work_dir

    wd = _work_dir(sf_dir, "s_bkq")
    run = uuid.uuid4().hex[:8]
    state_path = os.path.join(wd, f"samp-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        files_per_trigger=2,
    )

    def fold(batch, bid: int) -> None:
        batch_samp = sketches.bottomk_sample(
            batch, "event_type", "value", "event_id", k=_BK_K
        )
        cur = _read_sketch_state(spark, state_path)
        if cur is not None:
            merged = cur.unionByName(batch_samp)
        else:
            merged = batch_samp
        # re-select bottom-k over the union (idempotent: already-present
        # rows keep their priority; duplicates from a replayed batch
        # collapse on the distinct id before ranking)
        from pyspark.sql import Window

        merged = (
            merged.dropDuplicates(["event_type", "event_id"])
            .withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("event_type").orderBy(
                        "__pri", "event_id"
                    )
                ),
            )
            .filter(F.col("__rn") <= _BK_K)
            .drop("__rn")
        )
        tmp = state_path + f".tmp{bid}"
        merged.coalesce(1).write.mode("overwrite").parquet(tmp)
        _swap_sketch_state(state_path, tmp, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    samp = spark.read.parquet(state_path)
    out = sketches.bottomk_quantiles(samp, "event_type", "value").localCheckpoint(
        eager=True
    )
    shutil.rmtree(state_path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@register(
    "a17_countmin_sketch",
    oracle=sketches.cms_oracle_sql(
        "events", "user_id", probe_where="user_id % 50 = 0"
    ),
    survey="A9",
    tags=("approx",),
)
def a17_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency sketch [Cormode & Muthukrishnan 2005] —
    completing the mergeable-sketch quartet (HLL distincts a9c, Bloom
    membership a14, bottom-k quantiles a16, CMS frequencies): events
    hash into a 4x256 cell grid, a probe set of user ids reads back
    min-over-depths estimates next to the exact counts, and the
    certified ``overestimate`` column exhibits the one-sided error
    bound (est >= true, always).  Cells are a <=d*w-row relation built
    by ONE count aggregation and merged by cell-wise SUM — the algebra
    the streaming rollup twin (s_countmin_stream) exploits; the probe
    broadcast-joins the sketch.  Same md5-portability trick as the
    other sketches, so DuckDB replays identical cells and estimates."""
    e = load_table(spark, sf_dir, "events")
    cells = sketches.cms_cells(e, "user_id")
    probes = e.filter(F.col("user_id") % 50 == 0)
    est = sketches.cms_estimate(probes, "user_id", cells)
    truth = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    return est.join(truth, "key").select(
        "key",
        F.col("est").cast("long").alias("est"),
        F.col("true_count").cast("long").alias("true_count"),
        (F.col("est") - F.col("true_count")).cast("long").alias("overestimate"),
    )


@register(
    "s_countmin_stream",
    oracle=sketches.cms_oracle_sql(
        "events", "user_id", probe_where="user_id % 50 = 0"
    ),
    survey="A9 X2 X4",
    tags=("streaming", "approx"),
)
def s_countmin_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING count-min maintenance: each micro-batch folds its rows
    into a <=d*w-cell partial sketch and lands it as an OVERWRITE-
    idempotent per-batch segment (sum-merge is not idempotent, so
    exactly-once rides on epoch segments, not the merge — the same
    X4 pattern as the LSH/IVF ingest tier); the drained sketch is the
    cell-wise SUM of segments, which by CMS mergeability equals the
    one-shot batch sketch, so estimates hash-match the batch oracle at
    any slicing.  The 100 TB continuous frequency dashboard: O(d*w)
    state per segment, O(batch) work, no raw-data retention.  Epoch
    segments fold through a SegmentStore every 2 batches with a
    cell-wise re-SUM, so live state stays O(d*w) — one sketch — over
    arbitrary uptime (the store's skip-on-replayed-compacted-batch
    rule keeps the non-idempotent sums exactly-once under replay)."""
    import os
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from . import streaming_queries as _sq
    from .streaming_queries import _work_dir

    wd = _work_dir(sf_dir, "s_cms")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("depth", "bucket").agg(
            F.sum("c").alias("c")
        ),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=_sq._CHUNKS,
        files_per_trigger=2,
    )

    def fold(batch, bid: int) -> None:
        store.append(sketches.cms_cells(batch, "user_id").coalesce(1), bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    cells = (
        store.read()
        .groupBy("depth", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    e = load_table(spark, sf_dir, "events")
    probes = e.filter(F.col("user_id") % 50 == 0)
    est = sketches.cms_estimate(probes, "user_id", cells)
    truth = e.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    return est.join(truth, "key").select(
        "key",
        F.col("est").cast("long").alias("est"),
        F.col("true_count").cast("long").alias("true_count"),
        (F.col("est") - F.col("true_count")).cast("long").alias("overestimate"),
    )
