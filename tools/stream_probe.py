"""Per-micro-batch cost breakdown of the engine's live streaming path:
``read_stream -> tumble_agg -> ParquetMergeSink`` over a generated
backlog, then a few live files written one per period while the query
runs. Each line is one micro-batch: its input rows, Spark's
``triggerExecution`` and ``addBatch`` durations, the sink call's wall
time, the state store's ``commitTimeMs`` and the RocksDB commit metrics
(file sync, snapshot zip upload, changelog writer commit). The last line
gives the medians over the live batches, so a state-store or sink change
can be sized without the full benchmark.

The input is shaped like the benchmark's ``event_stream`` workload, in
order and without late events: a 50k-event backlog in 4 files, then
500-event live files; Zipf-skewed users; 500 ms windows closed after a
500 ms watermark delay; an 8-bucket sink.

Usage:
    python tools/stream_probe.py [--live-files N] [--period S]
        [--partitions P] [--conf KEY=VALUE ...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

WINDOW = "500 milliseconds"
DELAY = "500 milliseconds"
SPAN_US = 500_000  # event time covered by one file
BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
BACKLOG_FILES, BACKLOG_PER_FILE, LIVE_PER_FILE = 4, 12_500, 500
USERS, BUCKETS, SEED = 2_000, 8, 1
ROCKS = (
    "rocksdbCommitFileSyncLatencyMs",
    "rocksdbSaveZipFilesLatencyMs",
    "rocksdbChangeLogWriterCommitLatencyMs",
)


def write_events(path: str, rng, first_id: int, n: int, start_us: int,
                 seq: int) -> None:
    """``n`` events with Zipf-skewed users and event times spread over
    one file span starting at ``start_us``; mtime ``seq`` keeps the file
    source's arrival order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = start_us + np.sort(rng.integers(0, SPAN_US, n))
    user = np.minimum(rng.zipf(1.3, n), USERS) - 1
    t = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "buy"], n)),
        "value": pa.array(rng.random(n)),
        "props": pa.array([None] * n, pa.string()),
    })
    tmp = path + ".tmp"
    pq.write_table(t, tmp)
    os.utime(tmp, (1_700_000_000 + seq, 1_700_000_000 + seq))
    os.replace(tmp, path)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--live-files", type=int, default=8)
    ap.add_argument("--period", type=float, default=0.5,
                    help="seconds between live files")
    ap.add_argument("--partitions", type=int, default=8,
                    help="shuffle partitions = state store partitions")
    ap.add_argument("--conf", action="append", default=[], metavar="KEY=VALUE",
                    help="extra Spark conf, e.g. a state-store setting to A/B")
    a = ap.parse_args()

    import numpy as np

    from flink_1_19_source_spark.session import get_spark
    from flink_1_19_source_spark.streaming.ops import tumble_agg
    from flink_1_19_source_spark.streaming.replay import read_stream
    from flink_1_19_source_spark.streaming.sinks import ParquetMergeSink

    work = tempfile.mkdtemp(prefix="stream_probe_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    rng = np.random.default_rng(SEED)
    for f in range(BACKLOG_FILES):
        write_events(os.path.join(src, f"e-{f:05d}.parquet"), rng,
                     f * BACKLOG_PER_FILE, BACKLOG_PER_FILE,
                     BASE_US + f * SPAN_US, f)
    schema_probe = os.path.join(src, "e-00000.parquet")

    spark = get_spark(app_name="stream-probe", streaming=True,
                      shuffle_partitions=a.partitions, extra_conf={
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.ui.showConsoleProgress": "false",
        **dict(kv.split("=", 1) for kv in a.conf),
    })
    spark.sparkContext.setLogLevel("ERROR")
    schema = spark.read.parquet(schema_probe).schema

    sink = ParquetMergeSink(spark, os.path.join(work, "sink"),
                            pk_cols=["user_id", "window_start"],
                            num_buckets=BUCKETS)
    sink_ms: dict[int, float] = {}
    lock = threading.Lock()

    def timed_sink(df, batch_id: int) -> None:
        t = time.perf_counter()
        sink(df, batch_id)
        with lock:
            sink_ms[batch_id] = (time.perf_counter() - t) * 1e3

    agg = tumble_agg(read_stream(spark, src, schema, files_per_trigger=8),
                     "ts", WINDOW, ["user_id"], delay=DELAY)
    q = (agg.writeStream.foreachBatch(timed_sink).outputMode("append")
         .option("checkpointLocation", os.path.join(work, "ckpt"))
         .queryName("stream_probe").start())
    try:
        t = time.perf_counter()
        q.processAllAvailable()
        print(f"backlog: {BACKLOG_FILES * BACKLOG_PER_FILE} events drained in "
              f"{time.perf_counter() - t:.2f}s", flush=True)
        backlog_ids = {p["batchId"] for p in q.recentProgress}
        next_at = time.perf_counter()
        for i in range(a.live_files):
            f = BACKLOG_FILES + i
            write_events(os.path.join(src, f"e-{f:05d}.parquet"), rng,
                         BACKLOG_FILES * BACKLOG_PER_FILE + i * LIVE_PER_FILE,
                         LIVE_PER_FILE, BASE_US + f * SPAN_US, f)
            next_at += a.period
            time.sleep(max(0.0, next_at - time.perf_counter()))
        q.processAllAvailable()
        time.sleep(2 * a.period)  # lets the trailing no-data batch run
        progress = q.recentProgress
    finally:
        q.stop()
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    cols = ("batch", "phase", "rows", "trigger", "addBatch", "sink",
            "commit", "fileSync", "saveZip", "changelog")
    print("  ".join(f"{c:>9}" for c in cols))
    live = []
    for p in progress:
        ops = p.get("stateOperators") or [{}]
        custom = ops[0].get("customMetrics", {})
        row = {
            "trigger": p["durationMs"].get("triggerExecution", 0),
            "addBatch": p["durationMs"].get("addBatch", 0),
            "sink": sink_ms.get(p["batchId"], 0.0),
            "commit": ops[0].get("commitTimeMs", 0),
            "fileSync": custom.get(ROCKS[0], 0),
            "saveZip": custom.get(ROCKS[1], 0),
            "changelog": custom.get(ROCKS[2], 0),
        }
        phase = "backlog" if p["batchId"] in backlog_ids else "live"
        if phase == "live":
            live.append(row)
        print("  ".join([f"{p['batchId']:>9}", f"{phase:>9}",
                         f"{p['numInputRows']:>9}"]
                        + [f"{v:>9.0f}" for v in row.values()]), flush=True)
    if live:
        med = {k: statistics.median(r[k] for r in live) for k in live[0]}
        print(f"live p50 over {len(live)} batches: "
              + " ".join(f"{k}={v:.0f}" for k, v in med.items())
              + f" load={os.getloadavg()}", flush=True)


if __name__ == "__main__":
    main()
