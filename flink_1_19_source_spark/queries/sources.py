"""Source/sink/format coverage queries (SURVEY §2.1).

Round-trip queries prove format fidelity: write a slice in the format,
read it back, return it — the DuckDB oracle reads the ORIGINAL parquet,
so a hash match certifies the round-trip was lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import formats
from ..tables import load_table

_PART_COLS = "p_partkey, p_name, p_brand, p_type, p_size, p_retailprice"


@register(
    "src_csv_roundtrip",
    oracle=f"SELECT {_PART_COLS} FROM part WHERE p_partkey <= 200",
    survey="S1 S3",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + source (S3): null-token and header handling; read back
    with the writer's schema (inference would widen types)."""
    d = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    d = d.select(*[c.strip() for c in _PART_COLS.split(",")])
    path = os.path.join(formats.scratch(sf_dir, "csv"), "part")
    return formats.write_read_roundtrip(d, "csv", path, formats.CSV_OPTS)


@register(
    "src_json_roundtrip",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate "
    "FROM orders WHERE o_orderkey <= 500",
    survey="S1 S4",
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source (S4), timestamps round-tripped."""
    d = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = d.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    path = os.path.join(formats.scratch(sf_dir, "json"), "orders")
    return formats.write_read_roundtrip(d, "json", path)


@register(
    "src_parquet_roundtrip",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate "
    "FROM lineitem WHERE l_orderkey <= 300",
    survey="S1 S2",
)
def src_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink + vectorized source (S2) — the engine's native format;
    the write side is what every job's output stage exercises."""
    d = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 300)
    d = d.select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    path = os.path.join(formats.scratch(sf_dir, "parquet"), "lineitem")
    return formats.write_read_roundtrip(d, "parquet", path)


@register(
    "src_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
    survey="S5",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source (S5; columnar, vectorized read like parquet)."""
    d = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = os.path.join(formats.scratch(sf_dir, "orc"), "nation")
    return formats.write_read_roundtrip(d, "orc", path)


@register(
    "src_avro_roundtrip",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_returnflag, l_shipdate FROM lineitem WHERE l_orderkey % 8 = 0",
    survey="S5",
)
def src_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro sink + source (S5) — real container files from the pure-Python
    spec implementation (sources/avro_py.py: distributed per-partition
    write, binaryFile + mapInPandas read), since the spark-avro module jar
    is not deployable offline. The oracle compares every row/column of the
    round-trip against the source table: any encode/decode infidelity
    (zigzag, IEEE doubles, timestamp-micros) breaks the value hash.
    The 1-in-8 orderkey slice keeps full type/value coverage while the
    benchmark measures engine operators, not the compat codec's
    Python-per-row price (the codec tier is documented as the slow path;
    the jar swap is the production route)."""
    d = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") % 8 == 0
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_shipdate",
    )
    path = os.path.join(formats.scratch(sf_dir, "avro"), "lineitem")
    return formats.write_read_roundtrip(d, "avro", path)


@register(
    "src_partitioned_pruning",
    oracle="SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
    "WHERE o_orderstatus = 'F' AND o_orderkey <= 2000",
    survey="S1",
)
def src_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + pruned read (S1): the o_orderstatus filter
    resolves to directory pruning — only the F partition's files open.
    (Partition values surface as strings in the read schema; cast back.)"""
    d = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    path = os.path.join(formats.scratch(sf_dir, "part_orders"), "orders")
    formats.partitioned_write(
        d.select("o_orderkey", "o_totalprice", "o_orderstatus"),
        path,
        ["o_orderstatus"],
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@register(
    "src_datagen",
    oracle="""
    SELECT id, id * 7 % 100 AS bucket,
           CAST(id AS VARCHAR) AS id_str,
           CAST(CAST(DATE '2024-01-01' + INTERVAL (id % 30) DAY AS DATE) AS VARCHAR) AS d
    FROM range(1000) t(id)
    """,
    survey="S9",
)
def src_datagen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic datagen source (S9): spark.range + expressions."""
    return formats.datagen(
        spark,
        1000,
        {
            "bucket": "id * 7 % 100",
            "id_str": "CAST(id AS STRING)",
            "d": "CAST(DATE '2024-01-01' + make_interval(0,0,0, CAST(id % 30 AS INT)) AS DATE)",
        },
    ).select("id", "bucket", "id_str", F.col("d").cast("string").alias("d"))


@register(
    "src_jdbc_scan",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation "
    "WHERE n_regionkey <= 2",
    survey="S8",
)
def src_jdbc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC bounded scan (S8) against the embedded-Derby backend that ships
    in Spark's jars: 4 range-partitioned remote reads on n_nationkey
    (Flink scan.partition.*), filter pushed into the remote SQL
    (PushedFilters on the JDBCRelation scan node). The oracle reads the
    original parquet — a match certifies the JDBC round-trip."""
    from ..sources import jdbc

    db = os.path.join(formats.scratch(sf_dir, "derby"), "db")
    src = jdbc.seed_from_parquet(
        spark, sf_dir, "nation", db, table="NATION",
        partition_column="n_nationkey", num_partitions=4,
    )
    return (
        src.scan(spark)
        .filter(F.col("n_regionkey") <= 2)
        .select("n_nationkey", "n_name", "n_regionkey")
    )


@register(
    "src_jdbc_lookup",
    oracle="""
    SELECT n_name, COUNT(*) AS n_suppliers, ROUND(SUM(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    survey="S8 J7",
)
def src_jdbc_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC lookup join (S8 + J7): supplier facts enriched against the
    Derby-backed NATION dim with lookup.cache=ALL semantics — the dim is
    scanned once and broadcast; no per-row remote queries."""
    from ..sources import jdbc

    db = os.path.join(formats.scratch(sf_dir, "derby"), "db")
    src = jdbc.seed_from_parquet(spark, sf_dir, "nation", db, table="NATION")
    s = load_table(spark, sf_dir, "supplier").withColumnRenamed(
        "s_nationkey", "n_nationkey"
    )
    return (
        src.lookup_join(s, ["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
        )
    )


@register(
    "src_jdbc_upsert",
    oracle="""
    SELECT n_nationkey,
           CASE WHEN n_regionkey < 2 THEN n_name || '!' ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 100, n_name || '?', n_regionkey
    FROM nation WHERE n_regionkey = 0
    """,
    survey="S8 X6",
)
def src_jdbc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC upsert sink (S8; Flink's keyed JDBC sink): base table seeded
    from parquet, then one upsert batch carrying updates (names suffixed
    for regions 0-1) and inserts (shifted keys for region 0), applied as
    staging + a single set-based MERGE — O(1) statements per batch. The
    scan-back must equal the oracle's replay of the same changes."""
    from ..sources import jdbc

    db = os.path.join(formats.scratch(sf_dir, "derby"), "db")
    src = jdbc.seed_from_parquet(spark, sf_dir, "nation", db, table="NATION_UPS")
    n = load_table(spark, sf_dir, "nation")
    updates = n.filter(F.col("n_regionkey") < 2).withColumn(
        "n_name", F.concat(F.col("n_name"), F.lit("!"))
    )
    inserts = n.filter(F.col("n_regionkey") == 0).select(
        (F.col("n_nationkey") + 100).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("?")).alias("n_name"),
        "n_regionkey",
    )
    src.upsert(updates.unionByName(inserts), pk_cols=["n_nationkey"])
    return src.scan(spark).select("n_nationkey", "n_name", "n_regionkey")


@register(
    "sql_flink_dialect",
    oracle="""
    SELECT p_partkey,
           NULLIF(SPLIT_PART(p_type, ' ', 2), '') AS tok1,
           CAST(NULL AS VARCHAR) AS tok_oob,
           TRUNC(p_retailprice * 10) / 10 AS price_t,
           CAST(CASE WHEN p_brand = p_type THEN 0
                     WHEN p_brand < p_type THEN -1 ELSE 1 END AS BIGINT) AS cmp,
           json_extract_string('{"b":"' || p_brand || '"}', '$.b') AS jb,
           to_base64(encode(p_brand)) AS b64,
           decode(from_base64(to_base64(encode(p_brand)))) AS rt,
           CAST(LENGTH(p_name) AS BIGINT) AS clen
    FROM part WHERE p_partkey <= 60 AND regexp_matches(p_name, '^[a-m]')
    """,
    survey="S12 2.8-string 2.8-json",
)
def sql_flink_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink-SQL dialect surface (S12 / §2.8): the query below is written
    with Flink 1.19 built-in names (SPLIT_INDEX 0-based, TRUNCATE, STRCMP,
    JSON_VALUE, TO_BASE64/FROM_BASE64, REGEXP, CHARACTER_LENGTH) and runs
    through functions.flink_sql — name-alias translation plus registered
    shims — on Spark. Upstream: flink-table-common
    BuiltInFunctionDefinitions; semantics from the Flink 1.19 docs."""
    from ..functions.flink_sql import flink_sql
    from ..tables import register_views

    register_views(spark, sf_dir)
    return flink_sql(
        spark,
        """
        SELECT p_partkey,
               SPLIT_INDEX(p_type, ' ', 1) AS tok1,
               SPLIT_INDEX(p_type, ' ', 9) AS tok_oob,
               TRUNCATE(p_retailprice, 1) AS price_t,
               CAST(STRCMP(p_brand, p_type) AS BIGINT) AS cmp,
               JSON_VALUE(CONCAT('{"b":"', p_brand, '"}'), '$.b') AS jb,
               TO_BASE64(p_brand) AS b64,
               CAST(FROM_BASE64(TO_BASE64(p_brand)) AS STRING) AS rt,
               CAST(CHARACTER_LENGTH(p_name) AS BIGINT) AS clen
        FROM part WHERE p_partkey <= 60 AND REGEXP(p_name, '^[a-m]')
        """,
    )


@register(
    "sql_ddl_surface",
    oracle="""
    SELECT n.n_name, COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    survey="S12 A1 J1",
)
def sql_ddl_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL entry point (§3.1): tables registered as views by the table-spec
    layer (the engine's DDL surface), query via spark.sql → full Catalyst
    lifecycle. Flink: TableEnvironment.executeSql."""
    from ..tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name, COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


@register(
    "src_gzip_jsonl_scan",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value * 100 AS BIGINT)) AS BIGINT) AS cents,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
    survey="S1 S4",
)
def src_gzip_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP-compressed JSON-lines ingestion (S1/S4 — Flink's filesystem
    connector decompresses .gz inputs transparently; Spark's text
    sources do the same through the Hadoop codec factory, keyed on the
    file extension).

    The 100 TB design point this query pins: gzip is NOT a splittable
    codec, so one .gz file = one read task no matter its size — the
    parallelism of a compressed-text scan is its FILE COUNT.  The write
    side therefore repartitions to 8 files before sinking, and the test
    asserts the read plan fans out across them (8 input partitions, not
    1).  A pipeline ingesting crawl-scale gzip (the Common Crawl
    convention — see src_warc_wet_scan) gets parallelism from the
    archive's many-files layout, never from splitting.

    Money math rides as integer cents (value is stored at 2 decimal
    places) — JSON round-trips doubles, so the cents fold pins exact
    value fidelity through the text codec, not just row counts."""
    d = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    path = os.path.join(formats.scratch(sf_dir, "gzip_jsonl"), "events")
    d.repartition(8).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(path)
    import glob as _glob

    gz = _glob.glob(os.path.join(path, "*.json.gz"))
    assert len(gz) == 8, f"expected 8 gzip members, found {len(gz)}"
    # one task per gzip member — the unsplittable-codec contract.  The
    # partition count otherwise depends on Spark's file bin-packing
    # (openCostInBytes / maxPartitionBytes / defaultParallelism), so pin
    # the packing confs and build the RETURNED DataFrame under them:
    # with openCost == maxPartitionBytes no two files share a bin.  The
    # assertion runs against the same read it returns; note the scan may
    # still be re-planned lazily under later session confs — what the
    # assertion certifies is the CODEC contract (a .gz member is never
    # split, so parallelism == file count when bins don't share), and
    # the returned aggregate's value is partitioning-independent.
    _pin = {
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.sql.files.openCostInBytes": "134217728",
    }
    old = {k: spark.conf.get(k, None) for k in _pin}
    try:
        for k, v in _pin.items():
            spark.conf.set(k, v)
        r = spark.read.schema(d.schema).json(path)
        n_parts = r.rdd.getNumPartitions()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert n_parts == 8, n_parts
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "src_parquet_codec_matrix",
    oracle="""
    SELECT codec, COUNT(*) AS n,
           CAST(SUM(l_quantity * 100) AS BIGINT) AS qty_cents,
           MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
    FROM (SELECT 'gzip' AS codec FROM range(1)
          UNION ALL SELECT 'lz4_raw' UNION ALL SELECT 'snappy'
          UNION ALL SELECT 'zstd') c
    CROSS JOIN (SELECT l_orderkey, l_quantity FROM lineitem
                WHERE l_orderkey <= 400) l
    GROUP BY codec
    """,
    survey="S2",
)
def src_parquet_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet COMPRESSION-CODEC matrix (S2 — Flink's filesystem/parquet
    sink exposes the same codec knob): the identical slice written with
    snappy, zstd, lz4raw and gzip, each read back and content-verified.
    Codec choice is a first-order 100 TB decision — zstd typically
    halves storage vs snappy at some CPU cost, and a codec that silently
    corrupts or loses precision would poison every downstream job — so
    the gate is CONTENT equality per codec (count + exact decimal cents
    + key range), not 'the file opens'.  Each variant's read plan is
    still a normal vectorized parquet scan; file sizes land in the
    footer for ops to compare but are excluded from the oracle (codec
    output bytes are version-dependent, content is not)."""
    d = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 400)
        .select("l_orderkey", "l_quantity")
    )
    base = formats.scratch(sf_dir, "codec_matrix")
    outs = []
    for codec in ("gzip", "lz4_raw", "snappy", "zstd"):
        path = os.path.join(base, codec)
        d.write.mode("overwrite").option("compression", codec).parquet(path)
        r = spark.read.schema(d.schema).parquet(path)
        outs.append(
            r.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("l_quantity") * 100).cast("long")
                .alias("qty_cents"),
                F.min("l_orderkey").alias("min_key"),
                F.max("l_orderkey").alias("max_key"),
            ).select(F.lit(codec).alias("codec"), "*")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@register(
    "s_gzip_ingest_stream",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value * 100 AS BIGINT)) AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
    survey="S1 S4 X2 X4",
    tags=("streaming",),
)
def s_gzip_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING gzip-compressed JSONL ingestion — the crawl-archive
    arrival pattern (new .gz members land in a directory; Flink's
    filesystem source and Spark's file stream both decompress by
    extension): events are staged as 6 gzip JSONL members, consumed 2
    per trigger, and folded into per-type counts + exact integer cents
    in UPDATE mode; the drained snapshot must equal the batch aggregate.

    The unsplittable-codec contract carries over from the batch twin
    (src_gzip_jsonl_scan): each member is one read task, so the
    STREAM's parallelism per micro-batch is its maxFilesPerTrigger, a
    first-order knob when the upstream archive writes big members."""
    import shutil
    import uuid

    from ..streaming import replay
    from .streaming_queries import _work_dir

    d = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    wd = _work_dir(sf_dir, "s_gzip_ingest")
    src = os.path.join(wd, "src")
    d.repartition(6).write.mode("overwrite").option(
        "compression", "gzip"
    ).json(src)
    sdf = (
        spark.readStream.schema(d.schema)
        .option("maxFilesPerTrigger", 2)
        .json(src)
    )
    agg = sdf.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    name = f"s_gzip_q_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(wd, f"ckpt-{uuid.uuid4().hex[:8]}")
    replay.run_available_now(agg, name, output_mode="complete",
                             checkpoint_dir=ckpt)
    out = spark.table(name).localCheckpoint()
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
