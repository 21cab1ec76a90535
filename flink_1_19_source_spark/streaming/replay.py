"""Deterministic stream replay harness (SURVEY §5.2).

Replays a batch parquet table as a file stream: rows are sorted by event
time and split into K parquet chunk-files; `readStream` with
``maxFilesPerTrigger=1`` + an ``availableNow`` trigger then processes them
as K ordered micro-batches. Because event-time logic is deterministic
given the data, a streaming query replayed this way must converge to its
batch twin's answer — that equivalence is the streaming test oracle.

Flink parity: this emulates a bounded Kafka-like source with in-order
partitions (upstream: flink-connector-files streaming mode; per-split
watermarks).
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def split_into_chunks(
    src_parquet: str,
    out_dir: str,
    ts_col: str,
    chunks: int = 8,
    order_by: list[str] | None = None,
) -> None:
    """Sort by `order_by` (default: event time) and write K chunk files
    (driver-side pyarrow — test-scale data; on a real cluster the source
    would already arrive in partition files). A non-time order simulates
    out-of-order arrival deterministically (for late-data tests)."""
    t = pq.read_table(src_parquet)
    # normalize ns → µs so the streaming schema is a plain TimestampType
    schema = t.schema
    idx = schema.get_field_index(ts_col)
    if pa.types.is_timestamp(schema.field(idx).type):
        t = t.set_column(
            idx,
            ts_col,
            # safe=False truncates ns → µs, matching the batch reader's
            # integer-division truncation (tables.load_table) and DuckDB
            # UTC-instant type so Spark reads TimestampType (withWatermark
            # rejects NTZ); session tz is UTC, matching the batch reader
            t.column(ts_col).cast(pa.timestamp("us"), safe=False).cast(
                pa.timestamp("us", tz="UTC")
            ),
        )
    sort_keys = [(c, "ascending") for c in (order_by or [ts_col])]
    order = pa.compute.sort_indices(t, sort_keys=sort_keys)
    t = t.take(order)
    os.makedirs(out_dir, exist_ok=True)
    n = t.num_rows
    per = (n + chunks - 1) // chunks
    for i in range(chunks):
        sl = t.slice(i * per, per)
        if sl.num_rows:
            path = os.path.join(out_dir, f"chunk-{i:04d}.parquet")
            pq.write_table(sl, path)
            # FileStreamSource orders files by modification time; force a
            # strictly increasing mtime so replay order == event-time order
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def read_stream(
    spark: SparkSession,
    src_dir: str,
    schema: StructType,
    files_per_trigger: int = 1,
) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src_dir)
    )


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> None:
    """Drain the whole replay through the query into a memory sink."""
    w = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def run_foreach_batch(
    sdf: DataFrame,
    fn,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
) -> None:
    w = (
        sdf.writeStream.foreachBatch(fn)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    q = w.start()
    q.awaitTermination()


def replay_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    work_dir: str,
    ts_col: str = "ts",
    chunks: int = 8,
    files_per_trigger: int = 1,
    order_by: list[str] | None = None,
) -> DataFrame:
    """One-call helper: split `sf_dir/name.parquet` into chunks under
    `work_dir` and return the streaming DataFrame reading them."""
    src = os.path.join(sf_dir, f"{name}.parquet")
    # chunk count, arrival order AND the source file's identity (size,
    # mtime) in the dir name: a cached 8-chunk event-time-ordered split
    # must never be picked up by a 4-chunk replay, by one requesting a
    # different order_by, or after the source was regenerated at the same
    # path (the reuse guard only checks non-empty)
    order_key = "-".join(order_by) if order_by else ts_col
    st = os.stat(src)
    src_key = f"{order_key}|{st.st_size}|{st.st_mtime_ns}"
    src_tag = hashlib.sha1(src_key.encode()).hexdigest()[:8]
    chunk_dir = os.path.join(work_dir, f"{name}_chunks{chunks}_{src_tag}")
    if not os.path.isdir(chunk_dir) or not os.listdir(chunk_dir):
        split_into_chunks(src, chunk_dir, ts_col, chunks, order_by=order_by)
    # schema from a batch read of the chunks (ts already µs there)
    schema = spark.read.parquet(chunk_dir).schema
    return read_stream(spark, chunk_dir, schema, files_per_trigger)
