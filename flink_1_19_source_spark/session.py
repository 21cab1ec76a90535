"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores), but
every config here is chosen for the 100 TB / 1000-executor target:

- **AQE on** (coalesce partitions, skew-join handling, runtime re-plan):
  at scale the static ``spark.sql.shuffle.partitions`` is only an upper
  bound; AQE coalesces post-shuffle partitions to ~64 MB.
- **Arrow** for every pandas-UDF boundary (the only sanctioned Python path).
- **UTC session timezone** so event-time semantics are deployment-invariant
  (and match the DuckDB oracle bit-for-bit).
- **Parquet aggregate/filter pushdown** so scans prune columns, row groups
  and partitions before a single byte is shuffled.
- **RocksDB state with changelog checkpointing** for streaming sessions:
  RocksDB is the spill-capable backend for state far larger than executor
  memory. With changelog checkpointing a micro-batch commit writes one
  small ``<version>.changelog`` file per state partition instead of
  zipping and uploading a full snapshot; snapshots are taken by the
  background maintenance thread. Commit cost then follows the batch's
  state changes, not the state size (Flink's incremental checkpoints).
  Spark restores a checkpoint written in either mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink-1-19-source-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # keep the UI off in tests/bench: faster session startup, no port contention
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # bucketed-table home (co-located joins); /tmp keeps the repo clean
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/sgraft_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if streaming:
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ).config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
