"""Session-catalog surface (SURVEY §2.1 S11, §2.2 S12).

Flink's HiveCatalog gives SQL DDL a durable namespace: CREATE
DATABASE/TABLE, SHOW/DESCRIBE introspection, INSERT INTO, and
queries resolved through the catalog. Spark ships the same SQL surface
on its built-in session catalog (in-memory metastore + spark-warehouse
storage) — that covers every catalog *operation* the reference's SQL
tests exercise, certified here. The persistence half (metadata
surviving across sessions/engines) is covered by the Derby-backed Hive
metastore in sources/metastore.py, proven across two separate JVMs in
tests/test_metastore.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table


@register(
    "src_catalog_surface",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    survey="S11 S12",
)
def src_catalog_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog DDL round-trip (S11): CREATE DATABASE → CTAS a managed
    parquet table into the warehouse → SHOW TABLES / DESCRIBE must
    list it → INSERT INTO appends → final query resolves the table
    through the catalog (database-qualified name, full Catalyst
    lifecycle). Flink: the same statements against HiveCatalog."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    region.createOrReplaceTempView("cat_region_src")
    nation.createOrReplaceTempView("cat_nation_src")

    spark.sql("CREATE DATABASE IF NOT EXISTS graft_cat")
    spark.sql("DROP TABLE IF EXISTS graft_cat.region_t")
    # the in-memory catalog forgets managed tables across sessions while
    # their warehouse directories persist — exactly the S11 metastore
    # persistence gap; clear any orphaned location so CTAS can recreate
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        shutil.rmtree(
            wh.removeprefix("file:") + "/graft_cat.db/region_t",
            ignore_errors=True,
        )
    # CTAS with a predicate, then INSERT the rest — exercises both the
    # create-from-query and append write paths through the catalog
    spark.sql(
        "CREATE TABLE graft_cat.region_t USING PARQUET AS "
        "SELECT * FROM cat_region_src WHERE r_regionkey < 3"
    )
    spark.sql(
        "INSERT INTO graft_cat.region_t "
        "SELECT * FROM cat_region_src WHERE r_regionkey >= 3"
    )

    tables = {r.tableName for r in spark.sql("SHOW TABLES IN graft_cat").collect()}
    if "region_t" not in tables:
        raise AssertionError("catalog does not list region_t")
    described = {r.col_name for r in spark.sql("DESCRIBE TABLE graft_cat.region_t").collect()}
    if not {"r_regionkey", "r_name"} <= described:
        raise AssertionError(f"DESCRIBE missing columns: {described}")

    return spark.sql(
        """
        SELECT r.r_name, COUNT(*) AS n_nations
        FROM graft_cat.region_t r
        JOIN cat_nation_src n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """
    )


@register(
    "src_compacted_write",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang IN ('en', 'fr')
    """,
    survey="S1 S2",
)
def src_compacted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compacted partitioned sink (S1/S2): repartition-on-key before a
    partitionBy write, so each lang directory holds one file instead of
    tasks×partitions slivers (the 100 TB small-file failure mode), then
    a partition-pruned read-back of two languages. The file-count bound
    is asserted, not assumed."""
    import glob
    import os as _os

    from ..sources import formats

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    path = _os.path.join(formats.scratch(sf_dir, "compact_docs"), "documents")
    formats.compacted_partitioned_write(d, path, ["lang"])

    for part_dir in glob.glob(_os.path.join(path, "lang=*")):
        files = [f for f in _os.listdir(part_dir) if f.endswith(".parquet")]
        if len(files) > 2:
            raise AssertionError(
                f"compaction failed: {part_dir} has {len(files)} files"
            )

    return (
        spark.read.parquet(path)
        .filter(F.col("lang").isin("en", "fr"))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "s_datagen_rate_stream",
    oracle="""
    WITH gen AS (
      SELECT v,
             TIMESTAMP '2023-11-14 22:13:20'
               + (v // 100) * INTERVAL 1 MINUTE AS ts
      FROM range(300) t(v)
    )
    SELECT time_bucket(INTERVAL '1 minute', ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(v) AS BIGINT) AS sum_v
    FROM gen GROUP BY 1
    """,
    survey="S9 W1-S",
)
def s_datagen_rate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming datagen (S9's streaming half): Flink's rate-limited
    datagen source maps to Spark's ``rate-micro-batch`` format, which is
    FULLY deterministic — batch k carries values [k·R, (k+1)·R) at
    timestamp start + k·advance, independent of wall clock. Three
    sequential availableNow drains over one checkpoint advance exactly
    three batches into a parquet sink; the windowed aggregate over the
    generated event times then oracles against a generate_series
    reconstruction. (Wall-clock pacing at deploy = the plain ``rate``
    format — same schema, same query body.)"""
    import os
    import shutil
    import uuid

    from ..streaming import replay

    wd = os.path.join(
        "/tmp/sgraft_streams", os.path.basename(sf_dir.rstrip("/")), "s_rate"
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    out_dir = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    def one_batch_drain() -> None:
        sdf = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 100)
            .option("numPartitions", 2)
            .option("startTimestamp", 1700000000000)
            .option("advanceMillisPerBatch", 60000)
            .load()
        )
        replay.run_foreach_batch(
            sdf,
            lambda df, bid: df.write.mode("append").parquet(out_dir),
            checkpoint_dir=ckpt,
        )

    for _ in range(3):
        one_batch_drain()

    got = spark.read.parquet(out_dir)
    result = (
        got.groupBy(F.window("timestamp", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "sum_v")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return result


# --------------------------------------------------------------------------
# S1/S2 — data-lake write semantics: schema evolution, partition overwrite
# --------------------------------------------------------------------------
@register(
    "src_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey > 300 THEN o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey <= 600
    """,
    survey="S1 S2",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution (S2): an old writer produced 2-column
    files, a new writer adds `o_totalprice`; `mergeSchema` unions the
    footers and back-fills NULL for pre-evolution rows — the append-only
    data-lake upgrade path, no rewrite of old files. At 100 TB schema
    merge happens on footers only (per-file metadata), never data."""
    import os

    from ..sources import formats

    d = load_table(spark, sf_dir, "orders")
    base = os.path.join(formats.scratch(sf_dir, "schema_evo"), "orders")
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    d.filter(F.col("o_orderkey") <= 300).select(
        "o_orderkey", "o_orderstatus"
    ).write.mode("overwrite").parquet(v1)
    d.filter((F.col("o_orderkey") > 300) & (F.col("o_orderkey") <= 600)).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").parquet(v2)
    return spark.read.option("mergeSchema", "true").parquet(v1, v2)


@register(
    "src_dynamic_partition_overwrite",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'F'
                THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                                * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE)
                ELSE o_totalprice
           END AS o_totalprice
    FROM orders WHERE o_orderkey <= 400
    """,
    survey="S1 S2",
)
def src_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (S1): INSERT OVERWRITE must replace
    ONLY the partitions present in the incoming data — a backfill of one
    day/status must not clobber the rest of the table (static overwrite
    truncates everything). Here: full load, then a corrected re-load of
    just the 'F' partition; the other partitions must survive byte-for-
    byte."""
    import os

    from ..sources import formats

    d = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    d = d.select("o_orderkey", "o_orderstatus", "o_totalprice")
    path = os.path.join(formats.scratch(sf_dir, "dyn_overwrite"), "orders")
    d.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    # decimal-exact discount: double*0.9 lands on .xx5 boundaries whose
    # float repr differs between engines' ROUND — decimal(18,2)×(2,1) is
    # exact, rounds HALF_UP identically, then one cast back to double
    fixed = d.filter(F.col("o_orderstatus") == "F").withColumn(
        "o_totalprice",
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("0.9").cast("decimal(2,1)"),
            2,
        ).cast("double"),
    )
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        fixed.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
    out = spark.read.parquet(path).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # partition column comes back as the directory value (string); restore
    # the source dtype for the oracle compare
    return out.withColumn("o_orderstatus", F.col("o_orderstatus").cast("string"))


def _stmt_set_oracle() -> str:
    from ..functions.exact import sql_dsum

    return f"""
    WITH src AS (
      SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice
      FROM lineitem WHERE l_orderkey <= 2000
    )
    SELECT 'by_flag' AS sink, l_returnflag AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('l_extendedprice')} AS s
    FROM src GROUP BY l_returnflag
    UNION ALL
    SELECT 'big_items' AS sink, CAST(l_orderkey AS VARCHAR) AS k,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('l_extendedprice')} AS s
    FROM src WHERE l_quantity >= 45
    GROUP BY l_orderkey
    """


@register("sql_statement_set", oracle=_stmt_set_oracle(), survey="S12 S1")
def sql_statement_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE STATEMENT SET (plans/statement_set.py): two INSERTs fanned
    out from ONE shared scan, executed as a single logical job — the
    shared frame is persisted so the second sink reads the materialized
    scan, not the parquet again (Flink's shared-source-vertex property;
    the InMemoryTableScan shape is pinned in tests/test_plans.py). The
    query re-reads both sinks tagged and unioned, so the driver hash
    certifies the CONTENT both statements wrote."""
    import os

    from ..functions.exact import dsum
    from ..plans.statement_set import StatementSet
    from ..sources import formats

    src = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
    )
    by_flag = src.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("l_extendedprice")).alias("s")
    )
    big_items = (
        src.filter(F.col("l_quantity") >= 45)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("l_extendedprice")).alias("s"),
        )
    )
    base = formats.scratch(sf_dir, "stmt_set")
    p1, p2 = os.path.join(base, "by_flag"), os.path.join(base, "big_items")
    StatementSet(shared=src).add_insert(p1, by_flag).add_insert(p2, big_items).execute()

    r1 = spark.read.parquet(p1).select(
        F.lit("by_flag").alias("sink"),
        F.col("l_returnflag").alias("k"),
        F.col("n"),
        F.col("s"),
    )
    r2 = spark.read.parquet(p2).select(
        F.lit("big_items").alias("sink"),
        F.col("l_orderkey").cast("string").alias("k"),
        F.col("n"),
        F.col("s"),
    )
    return r1.unionByName(r2)


@register(
    "src_sorted_write",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_orderkey <= 3000
    """,
    survey="S1 S2 T1",
)
def src_sorted_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-sorted range-partitioned sink (Flink batch ORDER BY
    output): range exchange + in-task sort → files with pairwise-disjoint
    key ranges. The disjointness is ASSERTED from the parquet footers
    (pyarrow column statistics), not assumed — that property is what
    turns the file listing into a coarse index at 100 TB."""
    import os

    import pyarrow.parquet as pq

    from ..sources import formats

    d = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 3000)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )
    path = os.path.join(formats.scratch(sf_dir, "sorted_write"), "lineitem")
    formats.sorted_range_write(d, path, "l_orderkey", 8)

    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(path, f)).metadata
        if meta.num_rows == 0:
            continue
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(0).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        if hi1 >= lo2:
            raise AssertionError(f"overlapping file ranges: {ranges}")

    return spark.read.parquet(path)


@register(
    "s_rolling_file_sink",
    oracle="""
    SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
    FROM events
    """,
    survey="S1 S2 X4",
    tags=("streaming",),
)
def s_rolling_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FileSink with rolling policy + compaction (Flink
    flink-connector-files: rolling policies cut part files at a size
    bound; the 1.15+ sink compacts the resulting smalls before commit).
    Micro-batch analog: each batch rolls into ceil(rows/roll_rows) part
    files under an idempotent epoch dir (crash-replay rewrites, never
    double-appends); after the drain a compaction pass rewrites the
    accumulated smalls into row-bounded big files. Both halves are
    ASSERTED on the filesystem: the staging layout really rolled (> the
    compacted count), the compacted layout really bounds file count.
    This is the small-file lifecycle that decides 100 TB scan cost."""
    import math
    import os
    import shutil
    import uuid

    from ..streaming import replay

    wd = os.path.join(
        "/tmp/sgraft_streams", os.path.basename(sf_dir.rstrip("/")), "s_rollsink"
    )
    os.makedirs(wd, exist_ok=True)
    run = uuid.uuid4().hex[:8]
    staging = os.path.join(wd, f"staging-{run}")
    final = os.path.join(wd, f"final-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    roll_rows, big_rows = 500, 5000

    sdf = replay.replay_table(
        spark, sf_dir, "events", os.path.join(wd, "src"), chunks=4
    )

    def roll(batch: DataFrame, bid: int) -> None:
        batch.persist()
        try:
            n = batch.count()
            if n == 0:
                return
            parts = max(1, math.ceil(n / roll_rows))
            batch.select("event_id", "user_id", "event_type", "value").repartition(
                parts
            ).write.mode("overwrite").parquet(
                os.path.join(staging, f"epoch={bid:05d}")
            )
        finally:
            batch.unpersist()

    replay.run_foreach_batch(sdf, roll, checkpoint_dir=ckpt)

    def parquet_files(root: str) -> list[str]:
        out = []
        for dirpath, _, files in os.walk(root):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".parquet")]
        return out

    staged = spark.read.parquet(staging)
    total = staged.count()
    n_staged_files = len(parquet_files(staging))
    # compaction pass: bounded big files, content-preserving
    staged.repartition(max(1, math.ceil(total / big_rows))).write.mode(
        "overwrite"
    ).parquet(final)
    n_final_files = len(parquet_files(final))
    if not (n_final_files < n_staged_files):
        raise AssertionError(
            f"compaction did not reduce files: {n_staged_files} -> {n_final_files}"
        )
    if n_final_files > math.ceil(total / big_rows):
        raise AssertionError(f"compacted layout unbounded: {n_final_files}")

    out = (
        spark.read.parquet(final)
        .select(
            "event_id", "user_id", "event_type", F.round("value", 6).alias("value")
        )
        .localCheckpoint(eager=True)
    )
    for p in (staging, final, ckpt):
        shutil.rmtree(p, ignore_errors=True)
    return out


@register(
    "src_metadata_columns",
    oracle="""
    SELECT 'events.parquet' AS fname, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_ids
    FROM events
    """,
    survey="S12 S1",
)
def src_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connector METADATA columns (Flink DDL `col TYPE METADATA [FROM
    'key']` — e.g. the filesystem connector's `file.path`/`file.size`):
    Spark's hidden ``_metadata`` struct on file sources is the same
    surface. The query groups rows by source file (basename), proving
    the metadata column resolves per-row and joins normal columns; the
    size/mtime fields are asserted present and positive (their values
    are environment-specific, so they stay out of the hashed
    projection)."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias("fname"),
        F.col("_metadata.file_size").alias("fsize"),
        "event_id",
    )
    bad = e.filter(F.col("fsize") <= 0).count()
    if bad:
        raise AssertionError("metadata file_size not populated")
    return e.groupBy("fname").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_ids"),
    )


@register(
    "j7b_lookup_partial_cache",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey <= 5000
    """,
    survey="J7 S8 R7",
)
def j7b_lookup_partial_cache(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL-cache lookup join (Flink 'lookup.cache' = PARTIAL — the
    default JDBC lookup runtime; j7_lookup_broadcast is the FULL cache):
    each task point-fetches only the dimension keys it actually probes,
    once, through a process-local cache (sources/lookup_cache.py). The
    probe side never shuffles; fetch volume ∝ distinct keys per task.
    Cache effectiveness is accumulator-ASSERTED: fetched keys must be
    strictly fewer than probed rows (orders repeat customers)."""
    from pyspark.sql.types import StringType, StructField

    from ..sources.lookup_cache import lookup_join_partial_cache
    from ..tables import table_path

    probe = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 5000)
        .select("o_orderkey", "o_custkey")
    )
    sc = spark.sparkContext
    fetched, probed = sc.accumulator(0), sc.accumulator(0)
    from pyspark.sql.types import StructType

    # fresh StructType: .add() on probe.schema would MUTATE the frame's
    # cached schema and corrupt probe.columns
    out_schema = StructType(
        list(probe.schema.fields)
        + [StructField("c_name", StringType()), StructField("c_mktsegment", StringType())]
    )
    enriched = lookup_join_partial_cache(
        probe,
        "o_custkey",
        table_path(sf_dir, "customer"),
        "c_custkey",
        ["c_name", "c_mktsegment"],
        out_schema,
        fetched,
        probed,
    ).localCheckpoint(eager=True)
    if not (0 < fetched.value < probed.value):
        raise AssertionError(
            f"partial cache ineffective: fetched={fetched.value} probed={probed.value}"
        )
    return enriched


@register(
    "s_lookup_enrich_stream",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
    survey="J7 R7 R3",
    tags=("streaming",),
)
def s_lookup_enrich_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming lookup enrichment (Flink's lookup join on a stream,
    PARTIAL cache): the event stream is enriched per micro-batch through
    the same per-task point-fetch cache as j7b — stateless, append-mode,
    no watermark required, cache persists across batches inside each
    task's Python worker. Misses (users with no customer row) pass
    through null-padded, exercising the negative-cache path."""
    from pyspark.sql.types import StringType, StructField, StructType

    from ..sources.lookup_cache import lookup_join_partial_cache
    from ..tables import table_path
    from .streaming_queries import _drain_to_memory, _events_stream

    sdf, wd = _events_stream(spark, sf_dir, "s_lookup")
    probe = sdf.select("event_id", "user_id")
    sc = spark.sparkContext
    fetched, probed = sc.accumulator(0), sc.accumulator(0)
    out_schema = StructType(
        list(probe.schema.fields)
        + [StructField("c_name", StringType()), StructField("c_mktsegment", StringType())]
    )
    enriched = lookup_join_partial_cache(
        probe,
        "user_id",
        table_path(sf_dir, "customer"),
        "c_custkey",
        ["c_name", "c_mktsegment"],
        out_schema,
        fetched,
        probed,
    )
    out = _drain_to_memory(spark, enriched, "s_lookup_q", "append", wd)
    if not (0 < fetched.value < probed.value):
        raise AssertionError(
            f"partial cache ineffective: fetched={fetched.value} probed={probed.value}"
        )
    return out


@register(
    "src_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT event_type FROM events WHERE event_type LIKE 's%'
    )
    SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
    survey="S1 S2 J9",
)
def src_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (§4 optimizer row; Flink 1.19's batch
    DPP via SupportsPartitionPushDown + the runtime filter): the fact is
    laid out partitioned by event_type; the dim side's filter is only
    known at runtime, so the fact scan must receive a DYNAMIC pruning
    subquery — asserted in the plan text — and read only the matching
    partition directories. The join result is the oracle."""
    import os

    from ..plans import audit
    from ..sources import formats

    e = load_table(spark, sf_dir, "events")
    path = os.path.join(formats.scratch(sf_dir, "dpp"), "events_by_type")
    if not os.path.isdir(path) or not os.listdir(path):
        formats.compacted_partitioned_write(
            e.select("event_id", "user_id", "value", "event_type"),
            path,
            ["event_type"],
        )
    fact = spark.read.parquet(path)
    dim = (
        e.select("event_type")
        .distinct()
        .filter(F.col("event_type").startswith("s"))
    )
    joined = (
        fact.join(dim.hint("broadcast"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )
    plan = audit.plan_text(joined)
    if "dynamicpruning" not in plan.lower():
        raise AssertionError(f"no dynamic pruning subquery in plan:\n{plan}")
    return joined


@register(
    "src_csv_malformed",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey <= 600 AND o_orderkey % 7 <> 0
    """,
    survey="S3 S1",
)
def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling in the CSV format (Flink
    ``csv.ignore-parse-errors`` = skip bad rows): rows with
    o_orderkey % 7 == 0 are corrupted on write (the numeric price column
    gets a non-numeric token), the read uses DROPMALFORMED, and exactly
    the corrupted rows must vanish — the oracle is the well-formed
    subset. PERMISSIVE + _corrupt_record (Spark's default) is the
    capture-don't-drop alternative; both are schema-on-read behaviors
    the 100 TB ingest layer depends on."""
    import os

    from ..sources import formats

    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 600)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    corrupted = o.select(
        F.col("o_orderkey").cast("string"),
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("NOT_A_NUMBER"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("o_totalprice"),
    )
    path = os.path.join(formats.scratch(sf_dir, "csv_malformed"), "orders_csv")
    corrupted.write.mode("overwrite").option("header", "true").csv(path)
    good = (
        spark.read.option("header", "true")
        .option("mode", "DROPMALFORMED")
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
        .csv(path)
    )
    return good


@register(
    "src_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_orderkey) AS mn_key, MAX(o_orderkey) AS mx_key,
           MIN(o_totalprice) AS mn_price, MAX(o_totalprice) AS mx_price
    FROM orders
    """,
    survey="S2 A1",
)
def src_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate pushdown into the parquet scan (§4: Flink's
    SupportsAggregatePushDown ability interface): COUNT/MIN/MAX answered
    from row-group STATISTICS — zero data pages read — when the V2
    source path is active. The plan must show ``PushedAggregation``
    (asserted); at 100 TB this is the difference between a footer read
    and a full table scan for dashboard-style min/max/count probes."""
    from ..plans import audit
    from ..tables import table_path

    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    old_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(table_path(sf_dir, "orders"))
        agg = df.selectExpr(
            "count(*) as n",
            "min(o_orderkey) as mn_key",
            "max(o_orderkey) as mx_key",
            "min(o_totalprice) as mn_price",
            "max(o_totalprice) as mx_price",
        )
        plan = audit.plan_text(agg)
        if "PushedAggregation: [COUNT(*)" not in plan:
            raise AssertionError(f"aggregate not pushed into scan:\n{plan}")
        return agg.localCheckpoint(eager=True)
    finally:
        # restore: several write paths (dynamic partition overwrite) are
        # v1-only, and other queries assume the session default
        if old_v1 is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_agg)


