"""warehouse_sql: five registry TPC-H queries over a seeded star schema.

Covers the SQL core -- scans, broadcast and shuffle joins, exact-decimal
aggregates -- on the JVM alone: no Python UDFs, no state, so it bypasses
``operators`` and ``streaming``. Each query's answer is checked against
DuckDB running the registry's own ``oracle_sql()`` over the same files.
"""

from __future__ import annotations

import os

from .. import gen
from . import BatchWorkload
from .checks import duckdb_frame, value_hash

QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_type_profit",
    "q18_large_volume_customer",
)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


class WarehouseSql(BatchWorkload):
    name = "warehouse_sql"
    SIZES = {"full": {"lineitem_rows": 300_000}, "tiny": {"lineitem_rows": 20_000}}
    LAYERS = {
        "tables.load_table.s": "s",
        "tables.load_table.rows_out": "rows",
        **{f"queries.{q}.{m}": u for q in QUERIES
           for m, u in (("s", "s"), ("shuffle_write_mb", "MB"), ("executor_cpu_s", "s"))},
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        from flink_1_19_source_spark import registry

        self.fns = {q: registry.queries()[q] for q in QUERIES}
        self.oracle = {q: registry.oracle_sql()[q] for q in QUERIES}
        self.expected: dict[str, str] = {}

    def generate(self, out_dir: str) -> gen.Inputs:
        return gen.gen_warehouse(out_dir, self.ctx.seed, self.size["lineitem_rows"])

    def build_checks(self, inputs: gen.Inputs) -> None:
        views = {t: os.path.join(inputs.dir, f"{t}.parquet") for t in TABLES}
        self.expected = {q: value_hash(duckdb_frame(self.oracle[q], views)) for q in QUERIES}

    def run_pass(self, tr) -> dict | None:
        from flink_1_19_source_spark.tables import load_table

        d = self.inputs.dir
        layers: dict = {}
        if tr.enabled:
            # probe: the lineitem scan alone, materialized to a noop sink
            with tr.span("tables.load_table") as sp:
                load_table(self.spark, d, "lineitem").write.format("noop").mode("overwrite").save()
            layers.update({"tables.load_table.s": sp.seconds,
                           "tables.load_table.rows_out": sp.counters["input_records"],
                           "_probe_s": sp.seconds})
        for q in QUERIES:
            with tr.span(f"queries.{q}") as sp:
                got = self.fns[q](self.spark, d).toPandas()
            if self.checking and value_hash(got) != self.expected[q]:
                print(f"{q}: result differs from the DuckDB oracle", flush=True)
                return None
            if sp is not None:
                layers[f"queries.{q}.s"] = sp.seconds
                layers[f"queries.{q}.shuffle_write_mb"] = sp.counters["shuffle_write_mb"]
                layers[f"queries.{q}.executor_cpu_s"] = sp.counters["executor_cpu_s"]
        return layers
