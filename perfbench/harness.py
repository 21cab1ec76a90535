"""Run one workload: isolated scratch, Spark session, repeated set-up,
timed passes, output checks and the result record.

A run owns a fresh scratch directory inside the checkout (inputs, Spark
local dirs, warehouse, checkpoints, temp files) and removes it at exit.
Set-up is: Spark session up, inputs generated and written (``SETUP_REPS``
times, into fresh directories; the repeats must be byte-identical, which
checks the generator's determinism on every run), one warm-up pass.
"""

from __future__ import annotations

import os
import platform
import shutil
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass

from . import stats
from .trace import Tracer, stage_counters

SETUP_REPS = 3
MIN_PASSES = 2


@dataclass
class Ctx:
    root: str
    work: str
    seed: int
    seconds: float
    trace: bool
    size: str
    nproc: int
    tracer: Tracer
    spark: object = None
    run_id: str = ""

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def process_tree() -> tuple[dict[int, list[int]], dict[int, int], dict[int, str]]:
    """(parent pid -> child pids, pid -> resident KiB, pid -> executable)
    from /proc. The executable is read before the memory figure, so a
    process that execs in between is seen with its new, small footprint."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    exe: dict[int, str] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        pid = int(d)
        try:
            exe[pid] = os.readlink(f"/proc/{d}/exe")
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[pid] = int(f.read().split()[1]) * page_kb
        except (OSError, IndexError, ValueError):
            continue  # process ended while reading, or not ours to read
        children.setdefault(ppid, []).append(pid)
    return children, rss, exe


def descendants(pid: int) -> list[int]:
    children, _, _ = process_tree()
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


class PeakRss:
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc. A child of the JVM
    still running the JVM's executable is a fork about to exec a helper
    (Hadoop's local file system shells out to chmod); it shares the JVM's
    pages and is not counted, or every such fork would double the sum."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            children, rss, exe = process_tree()
            total, todo = 0, [me]
            while todo:
                pid = todo.pop()
                total += rss.get(pid, 0)
                kids = children.get(pid, ())
                if os.path.basename(exe.get(pid, "")) == "java":
                    kids = [k for k in kids if exe.get(k) != exe[pid]]
                todo.extend(kids)
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def run_context(ctx: Ctx) -> dict:
    import pyspark

    return {
        "seed": ctx.seed,
        "size": ctx.size,
        "nproc": ctx.nproc,
        "master": f"local[{ctx.nproc}]",
        "loadavg_start": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "java": ctx.spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def start_spark(ctx: Ctx, streaming: bool):
    """Engine session (``session.get_spark``) with every scratch location
    inside the run directory and the checkout root on the workers' path."""
    tmp = ctx.path("tmp", "")
    env = {
        "SPARK_LOCAL_DIRS": ctx.path("spark-local", ""),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(p for p in (ctx.root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(ctx.nproc),
        "SPARK_GRAFT_WAREHOUSE": ctx.path("warehouse", ""),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # every JVM (the launcher too) keeps its files in the run directory:
        # no hsperfdata under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    from flink_1_19_source_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        shuffle_partitions=2 * ctx.nproc,
        streaming=streaming,
        extra_conf={
            # a fixed initial heap keeps peak RSS from tracking how far the
            # heap happened to grow
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_passes(run_pass, seconds: float) -> tuple[list[float], list[dict], int, int]:
    """Run passes while the next one, as long as the last, fits in
    ``seconds``, and at least MIN_PASSES. ``run_pass()`` returns per-layer
    metrics (a dict), or None / raises when its output check fails. A
    traced pass may run extra probe calls that isolate one layer; it
    reports their time under ``_probe_s``, which is taken out of the pass
    time."""
    times, layers, attempted, failed = [], [], 0, 0
    deadline = time.perf_counter() + seconds
    while attempted < MIN_PASSES or time.perf_counter() + (times[-1] if times else 0) < deadline:
        attempted += 1
        t = time.perf_counter()
        try:
            out = run_pass()
        except Exception as e:  # a failing pass is counted, the run goes on
            print(f"pass failed: {type(e).__name__}: {e}", file=sys.stderr)
            out = None
        if out is None:
            failed += 1
            continue
        times.append(time.perf_counter() - t - out.pop("_probe_s", 0.0))
        layers.append(out)
    return times, layers, attempted, failed


def median_layers(layers: list[dict]) -> dict:
    keys = {k for d in layers for k in d}
    return {k: stats.median([d[k] for d in layers if k in d]) for k in sorted(keys)}


def spark_totals(ctx: Ctx, groups: list) -> dict:
    """GC time and failed tasks over every job the run started: jobs of
    traced spans (already counted per span), jobs outside any group, and
    the workload's own groups (a streaming query's run id)."""
    tot = {"gc_s": 0.0, "failed_tasks": 0}
    counted = [s.counters for s in ctx.tracer.spans if s.counters]
    counted += [stage_counters(ctx.spark, g) for g in [None, *groups]]
    for c in counted:
        tot["gc_s"] += c["gc_s"]
        tot["failed_tasks"] += c["failed_tasks"]
    return {"spark.gc_s": tot["gc_s"], "spark.failed_tasks": tot["failed_tasks"]}


def stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every process the JVM
    started (Python workers) to end."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run(workload_cls, seed: int, seconds: float, trace: bool, size: str,
        root: str, t_process: float) -> tuple[dict, dict]:
    """Returns (result, report): ``result`` is the last-line record,
    ``report`` everything else a reader of the run needs."""
    run_id = f"{workload_cls.name}-s{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    work = os.path.join(root, ".perfbench_work", run_id)
    os.makedirs(work)
    nproc = os.cpu_count() or 1
    tracer = Tracer(run_id, trace)
    ctx = Ctx(root, work, seed, seconds, trace, size, nproc, tracer, run_id=run_id)
    wl = workload_cls(ctx)
    report: dict = {}
    try:
        loadavg_start = os.getloadavg()
        with PeakRss() as rss:
            with tracer.span("session.get_spark", spark=False):
                ctx.spark = tracer.spark = start_spark(ctx, wl.streaming)
            session_s = time.perf_counter() - t_process
            # generation is repeated into fresh directories: the median is
            # the reported figure and equal digests prove determinism
            reps, digests = [], []
            for r in range(SETUP_REPS):
                t = time.perf_counter()
                with tracer.span("bench.generate", spark=False):
                    inputs = wl.generate(ctx.path(f"inputs-s{seed}-{size}-r{r}", ""))
                reps.append(time.perf_counter() - t)
                digests.append(wl.digest(inputs))
                if r < SETUP_REPS - 1:
                    shutil.rmtree(inputs.dir)
            t = time.perf_counter()
            wl.warmup(inputs)
            warmup_s = time.perf_counter() - t
            setup_s = session_s + stats.median(reps) + warmup_s
            deterministic = len(set(digests)) == 1
            wl.prepare(inputs)
            out = wl.measure(inputs)
            peak_mb = rss.peak_mb
        metrics_all = {"setup_s": (setup_s, "s"), "peak_rss_mb": (peak_mb, "MB"), **out["e2e"]}
        attempted, failed = out["attempted"], out["failed"]
        report.update({
            "workload": workload_cls.name,
            "inputs": inputs.rows,
            "setup": {"session_s": session_s, "generate_s": reps, "warmup_s": warmup_s,
                      "deterministic": deterministic},
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics_all.items()},
            "failed_frac": {"value": failed / max(attempted, 1), "unit": "ratio"},
            "checks": out.get("checks", {}),
            "pass_s": out.get("pass_s"),
        })
        if trace:
            layer = dict(out["layers"])
            layer.update(spark_totals(ctx, out.get("groups", [])))
            layer["bench.generate.s"] = stats.median([s.seconds for s in tracer.by_name("bench.generate")])
            layer["session.get_spark.s"] = tracer.by_name("session.get_spark")[0].seconds
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            report["spans_file"] = os.path.join(".perfbench_out", f"{run_id}.spans.jsonl")
            tracer.dump(os.path.join(root, report["spans_file"]))
            names = all_layer_metrics()
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in names.items()}
            report["spans"] = len(tracer.spans)
            report["layers_extra"] = {k: v for k, v in layer.items() if k not in names}
        else:
            metrics = {k: {"value": float(metrics_all[k][0]), "unit": u} for k, u in E2E.items()}
        report["context"] = {**run_context(ctx), "loadavg_start": loadavg_start,
                             "loadavg_end": os.getloadavg()}
        result = {"correct": bool(deterministic and failed == 0), "attempted": int(attempted),
                  "failed": int(failed), "metrics": metrics}
        return result, report
    finally:
        wl.close()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


E2E = {"setup_s": "s", "rows_per_s": "rows/s", "latency_p50_ms": "ms", "peak_rss_mb": "MB"}

COMMON_LAYERS = {
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "bench.generate.s": "s",
    "session.get_spark.s": "s",
    "trace.overhead_s": "s",
}


def all_layer_metrics() -> dict[str, str]:
    from .workloads import WORKLOADS

    out = dict(COMMON_LAYERS)
    for cls in WORKLOADS.values():
        out.update(cls.LAYERS)
    return out
