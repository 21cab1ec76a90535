"""Solo per-query timing (median of N) at $SPARK_GRAFT_SF_DIR — the
same timed action as bench.py (collect on a warmed session, scrub
between runs) without the 419-query session history, for A/B
adjudication of individual optimizations. Each line also gives the
query's Spark job count (median over the runs), read from the status
tracker for a job group set around each run, so per-job-overhead
changes can be checked one query at a time.

Usage:
    python tools/solo_time.py [-n N] name [name ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def _positive_int(text: str) -> int:
    try:
        n = int(text)
    except ValueError:
        raise argparse.ArgumentTypeError(f"not an integer: {text!r}")
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1: {n}")
    return n


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(
        description="Median wall time and Spark job count per query."
    )
    ap.add_argument(
        "-n", dest="runs", type=_positive_int, default=3,
        help="runs per query (default 3); -n5 and -n 5 both work",
    )
    ap.add_argument("names", nargs="+", help="registered query names")
    return ap.parse_args(argv)


def main() -> None:
    args = parse_args()
    runs, names = args.runs, args.names
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from flink_1_19_source_spark.registry import queries
    from flink_1_19_source_spark.session import get_spark

    qs = queries()
    spark = get_spark(app_name="solo")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    def scrub() -> None:
        spark.catalog.clearCache()
        for rdd in list(
            spark.sparkContext._jsc.getPersistentRDDs().values()
        ):
            rdd.unpersist(False)
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    sc = spark.sparkContext

    def job_count(group: str) -> int:
        # the tracker learns of jobs through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    for name in names:
        samples = []
        jobs = []
        for i in range(runs):
            group = f"solo-{name}-{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            rows = qs[name](spark, sf_dir).collect()
            _ = len(rows)
            samples.append(round(time.perf_counter() - t0, 3))
            jobs.append(job_count(group))
            scrub()
        print(
            f"{name}: median={statistics.median(samples):.3f}"
            f" jobs={statistics.median(jobs):g}"
            f" samples={samples} load={os.getloadavg()}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
