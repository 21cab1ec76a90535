"""tables: a table's schema is resolved once per file version and conf
setting (``parquet_schema``), and exact sums round their decimal value."""

from __future__ import annotations

import os
import shutil
import sys
import threading
from types import SimpleNamespace

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from flink_1_19_source_spark.functions.exact import dsum_round, sql_dsum_round
from flink_1_19_source_spark import tables
from flink_1_19_source_spark.tables import load_table, parquet_schema, table_path


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker learns of jobs through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_starts_no_spark_job(spark, sf_dir):
    load_table(spark, sf_dir, "lineitem")
    out = {}
    n = _jobs_in_group(
        spark, "test_tables_second_load",
        lambda: out.update(df=load_table(spark, sf_dir, "lineitem")),
    )
    assert n == 0
    path = table_path(sf_dir, "lineitem")
    assert out["df"].schema == spark.read.parquet(path).schema


def test_rewritten_file_shows_new_column(spark, sf_dir, tmp_path):
    d = str(tmp_path)
    path = table_path(d, "region")
    shutil.copy(table_path(sf_dir, "region"), path)
    assert "r_extra" not in load_table(spark, d, "region").columns
    t = pq.read_table(path)
    t = t.append_column("r_extra", pa.array(range(t.num_rows), pa.int64()))
    pq.write_table(t, path)
    df = load_table(spark, d, "region")
    assert "r_extra" in df.columns
    assert sorted(r.r_extra for r in df.collect()) == list(range(t.num_rows))


def test_binary_as_string_conf_is_part_of_the_key(spark, tmp_path):
    path = os.path.join(str(tmp_path), "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert parquet_schema(spark, path)["b"].dataType == BinaryType()
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["b"].dataType == StringType()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_dsum_round_rounds_the_decimal_half_up_in_both_engines(spark):
    # exact sum 2142838.445; the nearest double lies just below the tie
    rows = [(2142838.0,), (0.445,)]
    got = (
        spark.createDataFrame(rows, "x double")
        .agg(dsum_round(F.col("x"), 2).alias("r"))
        .first()
        .r
    )
    con = duckdb.connect()
    try:
        want = con.sql(
            f"SELECT {sql_dsum_round('x', 2)} AS r "
            "FROM (VALUES (2142838.0::DOUBLE), (0.445::DOUBLE)) t(x)"
        ).fetchone()[0]
    finally:
        con.close()
    assert got == want == 2142838.45


def test_schema_cache_stays_bounded_and_correct_under_threads(tmp_path):
    """Eight threads look up more files than the cache holds, with a short
    switch interval; a stand-in session names each file's one column after
    the file, so a schema handed to the wrong path would show."""
    paths = []
    for i in range(tables._SCHEMA_CACHE_MAX + 44):
        p = os.path.join(str(tmp_path), f"f{i}.parquet")
        open(p, "wb").close()
        paths.append(p)

    def infer(path):
        name = os.path.basename(path)
        return SimpleNamespace(schema=StructType([StructField(name, LongType())]))

    fake = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default: default),
        read=SimpleNamespace(parquet=infer),
    )
    wrong = []

    def worker(k):
        for j in range(3 * len(paths)):
            p = paths[(j * (k + 1)) % len(paths)]
            if parquet_schema(fake, p).names != [os.path.basename(p)]:
                wrong.append(p)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert len(tables._schema_cache) <= tables._SCHEMA_CACHE_MAX
