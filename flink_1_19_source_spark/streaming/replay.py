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

Drain contract. `run_available_now` and `run_foreach_batch` are the only
way a replayed stream is drained, and they own two decisions:

* State-partition pin. The state-store partition count is fixed by
  ``spark.sql.shuffle.partitions`` when a query first starts on a
  checkpoint. At replay scale (≤100k events, a few micro-batches) 32
  state partitions just multiply per-batch task and Python-worker
  overhead: the fixed per-batch bill is partitions × state-store
  instances (load + commit + changelog fsync). So both drains pin the
  conf to `STATE_PARTITIONS` for the duration of the drain (the fold
  runs inside it too) and restore the session's value afterwards. A real
  100 TB stream sizes this up with key cardinality, not down.
  `STATE_PARTITIONS` is 4: one task wave on a 4-core ``local[4]``. A
  stream-stream join keeps four state stores per partition, so each
  partition adds four store loads and commits to every micro-batch; 4
  partitions drain the stateful replays ~20% faster than 8 (JVM joins
  and applyInPandasWithState alike) at the same parallelism.
* Crash restarts. Flink's exactly-once restore contract (checkpoint →
  crash → restart → same answer) is pinned by crash injection. The fold
  asks a `CrashPlan` whether to die at this batch (``crash.fire(bid)``)
  and raises ``RuntimeError("injected crash …")`` at its own crash site.
  `run_foreach_batch(..., crash=plan)` runs ``plan.times`` attempts that
  must each end in that error, restarting on the SAME checkpoint, then
  the clean drain. An attempt that finishes without the crash raises
  ``AssertionError("crash injection never fired")``; any other error
  propagates.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..tables import parquet_schema


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


#: State-store partitions of every replayed drain (see the module docstring).
STATE_PARTITIONS = 4

#: The marker every injected crash carries in its message.
_CRASH_MARKER = "injected crash"


@contextmanager
def _pin_state_partitions(spark: SparkSession, n):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


class CrashPlan:
    """Fire-once (or fire-`times`) crash injection for a replayed fold:
    `fire(batch_id)` is True the first `times` times the fold reaches
    batch `at`, False otherwise (always False when `at` is None)."""

    def __init__(self, at: int | None, times: int = 1):
        self.at = at
        self.times = times if at is not None else 0
        self.fired = 0

    def fire(self, batch_id) -> bool:
        if int(batch_id) != self.at or self.fired >= self.times:
            return False
        self.fired += 1
        return True


def _start(writer, checkpoint_dir: str | None) -> None:
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.start().awaitTermination()


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "append",
    checkpoint_dir: str | None = None,
) -> None:
    """Drain the whole replay through the query into a memory sink, at
    `STATE_PARTITIONS` state partitions."""
    w = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    with _pin_state_partitions(sdf.sparkSession, STATE_PARTITIONS):
        _start(w, checkpoint_dir)


def run_foreach_batch(
    sdf: DataFrame,
    fn,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    crash: CrashPlan | None = None,
) -> None:
    """Drain the whole replay through `fn(batch, batch_id)`. With a
    `crash` plan, first run `crash.times` attempts that must each die on
    the injected crash, every restart on the same checkpoint."""

    def writer():
        return (
            sdf.writeStream.foreachBatch(fn)
            .outputMode(output_mode)
            .trigger(availableNow=True)
        )

    with _pin_state_partitions(sdf.sparkSession, STATE_PARTITIONS):
        for _ in range(crash.times if crash is not None else 0):
            try:
                _start(writer(), checkpoint_dir)
            except StreamingQueryException as e:
                if _CRASH_MARKER not in str(e):
                    raise
            else:
                raise AssertionError("crash injection never fired")
        _start(writer(), checkpoint_dir)


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
    # every chunk is a slice of one Arrow table (ts already µs there), so
    # the first chunk's cached schema is the stream's
    first = os.path.join(chunk_dir, min(os.listdir(chunk_dir)))
    schema = parquet_schema(spark, first)
    return read_stream(spark, chunk_dir, schema, files_per_trigger)
