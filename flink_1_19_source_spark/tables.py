"""Table-spec layer.

Flink declares per-table metadata in DDL (``WATERMARK FOR ts AS ts -
INTERVAL 'x'``, ``PRIMARY KEY ... NOT ENFORCED``) that Spark keeps outside
the schema. This registry carries that metadata so batch queries, streaming
replays and sinks agree on event-time columns, watermark delays and upsert
keys. (SURVEY.md §1.2/§7.2; upstream: flink-table DDL + catalog.)

Schemas are resolved once, like a catalog's ``CREATE TABLE``: planning a
scan does not re-open the data file. A bare ``spark.read.parquet(path)``
runs one Spark job to read a footer and infer the schema on every call,
so ``parquet_schema`` caches Spark's own inferred ``StructType`` and
``load_table`` hands it to ``spark.read.schema(...)``. The cache key is the
file's identity (real path, inode, size, ``st_mtime_ns``, ``st_ctime_ns``)
plus the session's value of every conf that changes how Parquet types map
to Spark types (``_PARQUET_TYPE_CONFS``), so a rewritten file or a changed
conf is a miss. Schemas are cached, not DataFrames: two scans of one table
must stay distinct plans, or a self-join of two ``load_table`` results
would have ambiguous columns.
"""

from __future__ import annotations

import copy
import os
import stat
import threading
from collections import OrderedDict
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@dataclass(frozen=True)
class TableSpec:
    name: str
    event_time: str | None = None          # event-time column (Flink: rowtime attribute)
    watermark_delay: str | None = None     # Flink: WATERMARK FOR ts AS ts - INTERVAL <delay>
    primary_key: tuple[str, ...] = ()      # Flink: PRIMARY KEY ... NOT ENFORCED
    partition_hint: tuple[str, ...] = ()   # natural co-location key at scale


SPECS: dict[str, TableSpec] = {
    s.name: s
    for s in [
        TableSpec("region", primary_key=("r_regionkey",)),
        TableSpec("nation", primary_key=("n_nationkey",)),
        TableSpec("customer", primary_key=("c_custkey",)),
        TableSpec("supplier", primary_key=("s_suppkey",)),
        TableSpec("part", primary_key=("p_partkey",)),
        TableSpec(
            "orders",
            event_time="o_orderdate",
            watermark_delay="1 day",
            primary_key=("o_orderkey",),
            partition_hint=("o_orderkey",),
        ),
        TableSpec(
            "lineitem",
            event_time="l_shipdate",
            watermark_delay="1 day",
            primary_key=("l_orderkey", "l_linenumber"),
            partition_hint=("l_orderkey",),
        ),
        TableSpec(
            "events",
            event_time="ts",
            watermark_delay="10 minutes",
            primary_key=("event_id",),
            partition_hint=("user_id",),
        ),
        TableSpec("documents", primary_key=("doc_id",)),
        TableSpec("embeddings", primary_key=("vec_id",)),
    ]
}

TABLE_NAMES = tuple(SPECS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_kind(path: str) -> str:
    """Inspect the parquet footer (pyarrow metadata-only read — no data IO)
    and classify the physical type of ``ts``. Testdata has shipped both
    ``timestamp[ns]`` and ``timestamp[us]`` across rounds; branching on the
    *actual* stored type instead of assuming one keeps every events query
    alive when the generator changes (the round-3 suite-wide regression)."""
    import pyarrow.parquet as pq
    import pyarrow as pa

    t = pq.read_schema(path).field("ts").type
    if pa.types.is_int64(t):
        return "int64_ns"
    if pa.types.is_timestamp(t):
        # unit check FIRST: a tz-aware timestamp[ns] still needs the
        # int64-ns truncation route (Spark can't read ns directly) — tz
        # only matters for the units Spark reads natively
        if t.unit == "ns":
            return "ts_ns"
        return "ts_tz" if t.tz is not None else "ts_ntz"
    return "other"


#: Session confs read by Spark's Parquet-to-Spark schema converter
#: (``ParquetToSparkSchemaConverter`` in Spark 4.1): each one can change the
#: inferred type of a column, so each is part of the schema cache key.
_PARQUET_TYPE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)

_SCHEMA_CACHE_MAX = 256
_schema_cache: OrderedDict[tuple, StructType] = OrderedDict()
_schema_lock = threading.Lock()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the Parquet file at ``path``, inferred
    once per file version and conf setting (see the module docstring).

    A miss runs ``spark.read.parquet(path).schema`` itself, so the types
    are exactly Spark's. A path that is not a regular file (a directory of
    part files) is inferred on every call and not cached. ctime is in the
    key besides mtime because writers may pin mtime (the replay chunks do).
    Callers get a copy: ``StructType.add`` mutates in place."""
    st = os.stat(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        os.path.realpath(path), st.st_ino, st.st_size, st.st_mtime_ns,
        st.st_ctime_ns,
        tuple(spark.conf.get(k, None) for k in _PARQUET_TYPE_CONFS),
    )
    with _schema_lock:
        schema = _schema_cache.get(key)
        if schema is not None:
            _schema_cache.move_to_end(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _schema_lock:
            _schema_cache[key] = schema
            if len(_schema_cache) > _SCHEMA_CACHE_MAX:
                _schema_cache.popitem(last=False)
    return copy.deepcopy(schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table with its schema from ``parquet_schema``: after the
    first scan of a file version no Spark job re-reads its footer. The
    read is still a plain Parquet scan, so Catalyst keeps full pushdown
    freedom (column pruning, predicate pushdown, partition pruning on real
    partitioned layouts). Every call returns a new DataFrame.

    ``events.ts`` is normalized to µs-precision ``TimestampType`` (UTC
    session tz) whatever the file stores:

    - ``timestamp[us/ms]`` (no tz) loads as TIMESTAMP_NTZ → plain cast
      (session tz is UTC, so the instant is unchanged);
    - ``timestamp[ns]`` / raw int64-ns → read as int64 via the legacy conf
      and truncate with *integer* division — ns epochs (~1.7e18) exceed
      double's 2^53 exact range, so float division would corrupt values.
      DuckDB truncates ns→µs the same way, keeping the oracle aligned;
    - tz-aware timestamps already load as TimestampType → no-op.
    """
    if name not in SPECS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = table_path(sf_dir, name)
    if name == "events":
        from pyspark.sql import functions as F

        kind = _events_ts_kind(path)
        if kind in ("int64_ns", "ts_ns"):
            # only this branch needs the legacy conf (runtime-settable);
            # set before the schema lookup, whose key includes it
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = _scan(spark, path)
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        df = _scan(spark, path)
        if kind == "ts_ntz":
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _scan(spark, path)


def _scan(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view (the engine's `catalog`),
    making the whole suite runnable via ``spark.sql``."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def with_event_time(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming-shaped load: apply the spec's watermark (Flink's
    ``WATERMARK FOR`` clause) — used by the streaming layer."""
    df = load_table(spark, sf_dir, name)
    spec = SPECS[name]
    if spec.event_time and spec.watermark_delay:
        df = df.withWatermark(spec.event_time, spec.watermark_delay)
    return df


def apply_computed(df: DataFrame, computed: dict[str, str]) -> DataFrame:
    """DDL computed columns (Flink `col AS expr` in CREATE TABLE): the
    spec layer applies them as scan-side projections — Catalyst folds
    them into the read, which is exactly how Flink's planner expands
    computed columns before optimization. SQL-string exprs so specs stay
    declarative/serializable like the rest of the table spec."""
    from pyspark.sql import functions as F

    for name, expr in computed.items():
        df = df.withColumn(name, F.expr(expr))
    return df
