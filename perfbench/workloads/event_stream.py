"""event_stream: catch-up throughput, then open-loop live latency.

The query is ``streaming.ops.tumble_agg`` over ``streaming.replay.read_stream``,
written through ``streaming.sinks.ParquetMergeSink`` from a foreachBatch
wrapper that times the sink and tags each row with its micro-batch. (Only
one stateful operator: chaining the engine's ops redefines the watermark,
which Spark rejects.)

1. Catch-up: a fresh query drains a pre-written backlog, three times over;
   ``rows_per_s`` is backlog events over the median drain time.
2. Live: the query keeps running while ``live_gen.py``, a separate
   process, writes event files on a fixed schedule at a fixed rate, well
   below the catch-up throughput. For every window row emitted in the live
   phase, latency is the wall time the sink made it durable minus
   (window end + watermark delay): the engine's close-and-emit lag.

Per-row cost sets throughput; per-batch overhead and the sink's
copy-on-write rewrites set latency. Checks: closed-window counts equal a
DuckDB recomputation over the generated events, and the events dropped as
late are exactly the injected late ones.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

from .. import gen, stats
from . import Workload

WINDOW = "500 milliseconds"
WINDOW_US = 500_000
DELAY = "500 milliseconds"
DELAY_S = 0.5
PERIOD_S = 0.5           # live file period
LIVE_SHARE = 0.6         # share of --seconds spent in the live phase
CATCHUP_ROUNDS = 3
FILES_PER_TRIGGER = 8
# Spark drops a late event only against the watermark of the batch before
# its own, so late events start once two live batches have run.
LIVE_LATE_AFTER = 8
KEYS = ["user_id"]


class BatchLog:
    """foreachBatch wrapper around the engine sink: tags rows with their
    batch id, times the sink call and stamps when the batch is durable."""

    def __init__(self, sink):
        self.sink = sink
        self.sink_ms: dict[int, float] = {}
        self.durable_at: dict[int, float] = {}
        self._lock = threading.Lock()

    def __call__(self, df, batch_id: int) -> None:
        from pyspark.sql import functions as F

        t = time.perf_counter()
        self.sink(df.withColumn("emit_batch", F.lit(batch_id)), batch_id)
        done = time.time()
        with self._lock:
            self.sink_ms[batch_id] = (time.perf_counter() - t) * 1e3
            self.durable_at[batch_id] = done


def progress_listener():
    """A StreamingQueryListener that keeps every progress record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.records: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


class EventStream(Workload):
    name = "event_stream"
    streaming = True
    SIZES = {
        "full": {"backlog_files": 4, "per_file": 12_500, "rate": 1_000},
        "tiny": {"backlog_files": 6, "per_file": 1_000, "rate": 200},
    }
    LAYERS = {
        "streaming.micro_batch.trigger_ms_p50": "ms",
        "streaming.micro_batch.trigger_ms_max": "ms",
        "streaming.micro_batch.planning_ms_p50": "ms",
        "streaming.micro_batch.wal_commit_ms_p50": "ms",
        "streaming.micro_batch.commit_offsets_ms_p50": "ms",
        "streaming.micro_batch.count": "count",
        "streaming.micro_batch.rows_p50": "rows",
        "streaming.sinks.ParquetMergeSink.write_ms_p50": "ms",
        "streaming.sinks.ParquetMergeSink.write_ms_max": "ms",
        "streaming.ops.tumble_agg.add_batch_ms_p50": "ms",
        "streaming.replay.latest_offset_ms_p50": "ms",
        "streaming.replay.get_batch_ms_p50": "ms",
        "streaming.state.commit_ms_p50": "ms",
        "streaming.state.rows_total": "rows",
        "streaming.state.memory_mb": "MB",
        "streaming.state.rows_dropped_late": "count",
        "streaming.replay.backlog_files_end": "count",
        "gen.lag_ms_max": "ms",
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        self.gen_proc: subprocess.Popen | None = None
        self.query = None

    # -- inputs -------------------------------------------------------------

    def generate(self, out_dir: str) -> gen.Inputs:
        s = self.size
        return gen.gen_backlog(os.path.join(out_dir, "backlog"), self.ctx.seed,
                               s["backlog_files"], s["per_file"], gen.EventShape())

    def _stream_dir(self, tag: str, files: list[str]) -> str:
        """A fresh source directory holding hard links to ``files``."""
        d = self.ctx.path("streams", tag, "")
        for f in files:
            os.link(f, os.path.join(d, os.path.basename(f)))
        return d

    def _backlog_files(self, inputs: gen.Inputs) -> list[str]:
        return sorted(os.path.join(inputs.dir, f) for f in os.listdir(inputs.dir))

    # -- query --------------------------------------------------------------

    def _start(self, src: str, tag: str):
        from flink_1_19_source_spark.streaming.ops import tumble_agg
        from flink_1_19_source_spark.streaming.replay import read_stream
        from flink_1_19_source_spark.streaming.sinks import ParquetMergeSink

        sdf = read_stream(self.spark, src, event_schema(), files_per_trigger=FILES_PER_TRIGGER)
        agg = tumble_agg(sdf, "ts", WINDOW, KEYS, delay=DELAY)
        sink = ParquetMergeSink(self.spark, self.ctx.path("sinks", tag, ""),
                                pk_cols=[*KEYS, "window_start"], num_buckets=8)
        log = BatchLog(sink)
        q = (agg.writeStream.foreachBatch(log).outputMode("append")
             .option("checkpointLocation", self.ctx.path("checkpoints", tag, ""))
             .queryName(tag).start())
        return q, sink, log

    def _catch_up(self, src: str, tag: str):
        t = time.perf_counter()
        q, sink, log = self._start(src, tag)
        q.processAllAvailable()
        return time.perf_counter() - t, q, sink, log

    def warmup(self, inputs: gen.Inputs) -> None:
        src = self._stream_dir("warmup", self._backlog_files(inputs))
        _, q, _, _ = self._catch_up(src, "warmup")
        q.stop()

    # -- measurement --------------------------------------------------------

    def measure(self, inputs: gen.Inputs) -> dict:
        """CATCHUP_ROUNDS catch-ups, each by a fresh query, then the live
        phase on the last query. In a traced run the last catch-up is traced;
        its excess over the median untraced one is the tracing overhead."""
        ctx, s = self.ctx, self.size
        backlog = self._backlog_files(inputs)
        n_backlog = s["backlog_files"] * s["per_file"]
        listener = None
        catchup_s, run_ids = [], []
        rounds = CATCHUP_ROUNDS
        for r in range(rounds):
            last = r == rounds - 1
            if last and ctx.trace:
                listener = progress_listener()
                self.spark.streams.addListener(listener)
            src = self._stream_dir(f"run{r}", backlog)
            with (ctx.tracer if last else self.off).span("streaming.catch_up", spark=False):
                secs, q, sink, log = self._catch_up(src, f"run{r}")
            catchup_s.append(secs)
            run_ids.append(str(q.runId))
            if not last:
                q.stop()
        self.query = q
        tag = f"run{rounds - 1}"
        catchup_batches = {p["batchId"] for p in q.recentProgress}

        live_files = max(int(ctx.seconds * LIVE_SHARE / PERIOD_S), LIVE_LATE_AFTER + 4)
        per_file = int(s["rate"] * PERIOD_S)
        truth_path = ctx.path("live_truth.json")
        live_start = time.time() + 1.0  # leaves the generator time to import
        self.gen_proc = subprocess.Popen([
            sys.executable, os.path.join(ctx.root, "perfbench", "live_gen.py"),
            "--out", src, "--truth", truth_path, "--seed", str(ctx.seed),
            "--start", repr(live_start), "--files", str(live_files),
            "--period", str(PERIOD_S), "--per-file", str(per_file),
            "--first-id", str(n_backlog), "--late-after", str(LIVE_LATE_AFTER),
        ])
        with ctx.tracer.span("streaming.live", spark=False):
            rc = self.gen_proc.wait(timeout=ctx.seconds * 3 + 60)
            self.gen_proc = None
            # events written but not yet read when the generator finished
            backlog_end = n_backlog + live_files * per_file - sum(
                p["numInputRows"] for p in q.recentProgress)
            q.processAllAvailable()
        with open(truth_path) as f:
            live = json.load(f)
        progress = q.recentProgress
        q.stop()
        self.query = None
        if listener is not None:
            self.spark.streams.removeListener(listener)

        snap = sink.snapshot_df().toPandas()
        lat_ms = self._latencies(snap, log, live_start)
        ok, checks = self._check(snap, progress, src, self.ctx.path("checkpoints", tag), live, rc)
        p50 = stats.percentile(lat_ms, 0.5)
        p90 = stats.percentile(lat_ms, 0.9)
        ok = ok and p90 is not None
        untraced = catchup_s[:-1] if ctx.trace else catchup_s
        checks.update(latency_samples=len(lat_ms), catchup_s=catchup_s,
                      live_rate_events_per_s=s["rate"], live_files=live_files,
                      backlog_events=n_backlog)
        out = {
            "e2e": {
                "rows_per_s": (n_backlog / stats.median(untraced), "rows/s"),
                "latency_p50_ms": (p50 if p50 is not None else float("nan"), "ms"),
                "event_latency_p90_ms": (p90 if p90 is not None else float("nan"), "ms"),
            },
            # an operation is a micro-batch of the measured query; a failed
            # output check fails them all
            "attempted": len(progress),
            "failed": 0 if ok else len(progress),
            "checks": checks,
            "groups": run_ids,
        }
        if listener is not None:
            out["layers"] = self._layers(listener.records, log, tag, catchup_batches, live)
            out["layers"]["streaming.replay.backlog_files_end"] = backlog_end / per_file
            out["layers"]["trace.overhead_s"] = catchup_s[-1] - stats.median(untraced)
        return out

    def _latencies(self, snap, log: BatchLog, live_start: float) -> list[float]:
        live = snap[snap["window_start"].map(lambda t: t.timestamp()) >= live_start]
        ends = live["window_end"].map(lambda t: t.timestamp())
        durable = live["emit_batch"].map(log.durable_at)
        return ((durable - ends - DELAY_S) * 1e3).tolist()

    @staticmethod
    def _file_batches(checkpoint: str, progress: list[dict]) -> dict[str, int]:
        """Source file name -> micro-batch that read it. The file source's
        metadata log in the checkpoint numbers files by source offset; each
        progress record gives the offset range its micro-batch read."""
        def log_offset(v) -> int:  # {"logOffset": n} in some rendering, or None
            m = re.search(r"logOffset\D*(\d+)", str(v))
            return int(m.group(1)) if m else -1

        by_offset = {}
        for p in progress:
            src = p["sources"][0]
            start, end = log_offset(src.get("startOffset")), log_offset(src.get("endOffset"))
            for off in range(start + 1, end + 1):
                by_offset[off] = p["batchId"]
        out = {}
        log_dir = os.path.join(checkpoint, "sources", "0")
        for name in os.listdir(log_dir):
            if name.startswith(".") or not name.split(".")[0].isdigit():
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = by_offset[e["batchId"]]
        return out

    def _check(self, snap, progress, src, checkpoint, live, rc) -> tuple[bool, dict]:
        """Spark drops an event when its window ended at or before the
        previous micro-batch's watermark. DuckDB replays that rule over the
        generated files (each file tagged with the batch that read it):
        the dropped events must be exactly the injected late ones, and the
        kept ones must give the sink's closed-window counts."""
        import duckdb
        import pandas as pd

        wm_us = {p["batchId"]: int(pd.Timestamp(p["eventTime"]["watermark"]).value // 1000)
                 for p in progress}
        batches = self._file_batches(checkpoint, progress)
        files = pd.DataFrame({
            "file": list(batches),
            "late_us": [wm_us.get(b - 1, 0) for b in batches.values()],
        })
        final_wm = wm_us[max(wm_us)]
        con = duckdb.connect()
        try:
            con.register("files", files)
            con.sql(f"""
                CREATE TABLE ev AS
                SELECT e.event_id, e.user_id,
                       epoch_us(e.ts) // {WINDOW_US} * {WINDOW_US} AS ws_us,
                       epoch_us(e.ts) // {WINDOW_US} * {WINDOW_US} + {WINDOW_US} <= f.late_us AS dropped
                FROM read_parquet('{os.path.join(src, "*.parquet")}', filename = true) e
                JOIN files f ON regexp_extract(e.filename, '[^/]+$') = f.file
            """)
            n_read = con.sql("SELECT COUNT(*) FROM ev").fetchone()[0]
            dropped = {r[0] for r in con.sql("SELECT event_id FROM ev WHERE dropped").fetchall()}
            want = con.sql(f"""
                SELECT user_id, ws_us, COUNT(*) AS n FROM ev WHERE NOT dropped
                GROUP BY 1, 2 HAVING ws_us + {WINDOW_US} <= {final_wm}
            """).fetchall()
        finally:
            con.close()
        got = set(zip(snap["user_id"], snap["window_start"].map(lambda t: t.value // 1000), snap["n"]))
        checks = {
            "late_injected": len(live["late_ids"]), "late_dropped": len(dropped),
            "late_dropped_partial_rows": sum(op.get("numRowsDroppedByWatermark", 0)
                                             for p in progress for op in p.get("stateOperators", [])),
            "closed_window_rows": len(want), "sink_rows": len(got),
            "windows_match": got == set(want), "events_read": n_read,
            "generator_exit": rc, "gen_lag_ms_max": live["lag_ms_max"],
        }
        ok = rc == 0 and dropped == set(live["late_ids"]) and got == set(want)
        return ok, checks

    def _layers(self, records, log: BatchLog, tag, catchup_ids, live) -> dict:
        """Per-layer figures from the traced query's progress records:
        micro-batch and state figures over the live batches, source and
        operator figures over the catch-up batches."""
        mine = [p for p in records if p["name"] == tag]
        live_b = [p for p in mine if p["batchId"] not in catchup_ids]
        cu_b = [p for p in mine if p["batchId"] in catchup_ids]

        def dur(batch, key):
            return [p["durationMs"].get(key, 0) for p in batch]

        def p50(xs):
            return stats.median(xs) if xs else 0.0

        state = [p["stateOperators"][0] for p in mine if p.get("stateOperators")]
        live_sink = [log.sink_ms[p["batchId"]] for p in live_b if p["batchId"] in log.sink_ms]
        add = [p["durationMs"].get("addBatch", 0) - log.sink_ms.get(p["batchId"], 0) for p in cu_b]
        return {
            "streaming.micro_batch.trigger_ms_p50": p50(dur(live_b, "triggerExecution")),
            "streaming.micro_batch.trigger_ms_max": max(dur(live_b, "triggerExecution"), default=0),
            "streaming.micro_batch.planning_ms_p50": p50(dur(live_b, "queryPlanning")),
            "streaming.micro_batch.wal_commit_ms_p50": p50(dur(live_b, "walCommit")),
            "streaming.micro_batch.commit_offsets_ms_p50": p50(dur(live_b, "commitOffsets")),
            "streaming.micro_batch.count": len(live_b),
            "streaming.micro_batch.rows_p50": p50([p["numInputRows"] for p in live_b]),
            "streaming.sinks.ParquetMergeSink.write_ms_p50": p50(live_sink),
            "streaming.sinks.ParquetMergeSink.write_ms_max": max(live_sink, default=0),
            "streaming.ops.tumble_agg.add_batch_ms_p50": p50(add),
            "streaming.replay.latest_offset_ms_p50": p50(dur(cu_b, "latestOffset")),
            "streaming.replay.get_batch_ms_p50": p50(dur(cu_b, "getBatch")),
            "streaming.state.commit_ms_p50": p50([s.get("commitTimeMs", 0) for s in state]),
            "streaming.state.rows_total": state[-1].get("numRowsTotal", 0) if state else 0,
            "streaming.state.memory_mb": (state[-1].get("memoryUsedBytes", 0) / 2**20) if state else 0,
            "streaming.state.rows_dropped_late": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
            "gen.lag_ms_max": live["lag_ms_max"],
        }

    def close(self) -> None:
        if self.gen_proc is not None:
            self.gen_proc.kill()
            self.gen_proc.wait(timeout=30)
        if self.query is not None:
            self.query.stop()


def event_schema():
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                                   StructType, TimestampType)

    return StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
