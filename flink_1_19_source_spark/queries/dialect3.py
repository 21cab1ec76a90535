"""SQL-dialect closure, third wave (SURVEY §2.1 S11/S12, §2.10).

Flink 1.19 statement surface beyond CREATE/INSERT/SHOW/DESCRIBE:

- ``ALTER TABLE ADD COLUMNS`` / ``TRUNCATE TABLE`` (added 1.18) /
  ``CREATE TABLE ... LIKE`` — the table-lifecycle statements
  [docs: Flink SQL ALTER / TRUNCATE / CREATE ... LIKE];
- ``CREATE [TEMPORARY] FUNCTION`` — catalog-registered UDFs
  [docs: Flink SQL CREATE FUNCTION]; Spark 4's SQL-macro functions
  (``CREATE FUNCTION ... RETURNS ... RETURN expr``) are the direct,
  fully-codegen'd analog (the body inlines into the plan — no UDF
  call overhead at all, strictly better than a Python shim);
- ``ANALYZE TABLE`` (added 1.18, batch-only) — collects table/column
  statistics into the catalog for the cost-based optimizer
  [docs: Flink SQL ANALYZE TABLE]. Spark: ``ANALYZE TABLE ... COMPUTE
  STATISTICS [FOR COLUMNS ...]`` feeding CBO/AQE join planning.

Each query drives the statements end-to-end through the session
catalog and returns re-readable CONTENT (or the collected stats), so
the driver hash certifies statement effects, not just acceptance.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table


def _reset_managed(spark: SparkSession, db: str, *tables: str) -> None:
    """DROP + clear orphaned warehouse dirs (the in-memory catalog forgets
    managed tables across sessions while their directories persist)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    for t in tables:
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        if wh.startswith("file:"):
            shutil.rmtree(
                wh.removeprefix("file:") + f"/{db}.db/{t}", ignore_errors=True
            )


@register(
    "sql_ddl_lifecycle",
    oracle="""
    WITH t1_final AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey > 200 AND o_orderkey <= 250
    ), t2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey > 100 THEN o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey <= 200 AND o_orderstatus = 'O'
    )
    SELECT 't1' AS tag, * FROM t1_final
    UNION ALL
    SELECT 't2' AS tag, * FROM t2
    """,
    survey="S11 S12",
)
def sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-lifecycle statements end-to-end: CREATE → INSERT → ALTER
    TABLE ADD COLUMNS (old rows read back NULL-padded) → INSERT with the
    new column → CREATE TABLE LIKE (schema clone, no data) → INSERT
    SELECT → TRUNCATE (data gone, schema kept) → re-INSERT. The final
    union re-reads both tables through the catalog, so every statement's
    effect lands in the hash. Flink: the same statement sequence against
    HiveCatalog."""
    db = "graft_ddl3"
    _reset_managed(spark, db, "lc_t1", "lc_t2")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ddl3_orders")

    spark.sql(
        f"CREATE TABLE {db}.lc_t1 (o_orderkey BIGINT, o_orderstatus STRING)"
        " USING PARQUET"
    )
    spark.sql(
        f"INSERT INTO {db}.lc_t1 SELECT o_orderkey, o_orderstatus"
        " FROM ddl3_orders WHERE o_orderkey <= 100"
    )
    spark.sql(f"ALTER TABLE {db}.lc_t1 ADD COLUMNS (o_totalprice DOUBLE)")
    spark.sql(
        f"INSERT INTO {db}.lc_t1 SELECT o_orderkey, o_orderstatus, o_totalprice"
        " FROM ddl3_orders WHERE o_orderkey > 100 AND o_orderkey <= 200"
    )
    spark.sql(f"CREATE TABLE {db}.lc_t2 LIKE {db}.lc_t1")
    spark.sql(
        f"INSERT INTO {db}.lc_t2 SELECT * FROM {db}.lc_t1"
        " WHERE o_orderstatus = 'O'"
    )
    spark.sql(f"TRUNCATE TABLE {db}.lc_t1")
    if spark.table(f"{db}.lc_t1").count() != 0:
        raise AssertionError("TRUNCATE left rows behind")
    spark.sql(
        f"INSERT INTO {db}.lc_t1 SELECT o_orderkey, o_orderstatus, o_totalprice"
        " FROM ddl3_orders WHERE o_orderkey > 200 AND o_orderkey <= 250"
    )
    t1 = spark.table(f"{db}.lc_t1").select(F.lit("t1").alias("tag"), "*")
    t2 = spark.table(f"{db}.lc_t2").select(F.lit("t2").alias("tag"), "*")
    return t1.unionByName(t2)


def _cf_oracle() -> str:
    return """
    SELECT l_orderkey,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(1.07 AS DECIMAL(3,2)), 2) AS DOUBLE) AS taxed,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 20 THEN 'mid' ELSE 'small' END AS bucket
    FROM lineitem WHERE l_orderkey <= 500
    """


@register("sql_create_function", oracle=_cf_oracle(), survey="S12 2.10-ScalarFunction")
def sql_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE FUNCTION (Flink catalog UDFs) via Spark SQL macro
    functions: the body is SQL, inlined by Catalyst into the calling
    plan — whole-stage-codegen'd, zero call overhead (contrast a Python
    ScalarFunction, which pays the serialization boundary). Two
    functions registered and exercised through plain SQL; the tax macro
    uses exact-decimal rounding so both engines agree on .xx5
    boundaries."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("cf_lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION graft_tax(p DOUBLE) RETURNS DOUBLE"
        " RETURN CAST(ROUND(CAST(p AS DECIMAL(18,2)) * CAST(1.07 AS DECIMAL(3,2)),"
        " 2) AS DOUBLE)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION graft_bucket(q DOUBLE) RETURNS STRING"
        " RETURN CASE WHEN q >= 40 THEN 'bulk' WHEN q >= 20 THEN 'mid'"
        " ELSE 'small' END"
    )
    return spark.sql(
        """
        SELECT l_orderkey, graft_tax(l_extendedprice) AS taxed,
               graft_bucket(l_quantity) AS bucket
        FROM cf_lineitem WHERE l_orderkey <= 500
        """
    )


@register(
    "sql_analyze_stats",
    oracle="""
    WITH src AS (SELECT * FROM orders WHERE o_orderkey <= 1000)
    SELECT col_name,
           min_v, max_v, n_nulls,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS table_rows
    FROM (
      SELECT 'o_orderkey' AS col_name, MIN(o_orderkey) AS min_v,
             MAX(o_orderkey) AS max_v,
             CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls
      FROM src
      UNION ALL
      SELECT 'o_custkey', MIN(o_custkey), MAX(o_custkey),
             CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM src
    )
    """,
    survey="S11 S12",
)
def sql_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS (Flink 1.18+
    batch statement): stats land in the catalog and feed the cost-based
    optimizer (broadcast-vs-shuffle join choices — the decision that
    matters most at 100 TB). The query reads the collected per-column
    min/max/null-count and the table rowCount BACK out of the catalog
    (DESCRIBE EXTENDED), returning them as data so the driver hash
    certifies the statistics values themselves. distinct_count is
    HLL-approximate in Spark's catalog, hence excluded from the oracled
    projection."""
    db = "graft_ddl3"
    _reset_managed(spark, db, "stats_t")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("ddl3_orders_s")
    spark.sql(
        f"CREATE TABLE {db}.stats_t USING PARQUET AS"
        " SELECT * FROM ddl3_orders_s WHERE o_orderkey <= 1000"
    )
    spark.sql(
        f"ANALYZE TABLE {db}.stats_t COMPUTE STATISTICS"
        " FOR COLUMNS o_orderkey, o_custkey"
    )
    n_rows = spark.sql(f"DESCRIBE TABLE EXTENDED {db}.stats_t").filter(
        F.col("col_name") == "Statistics"
    )
    # "X bytes, N rows" — parse N; statement must have populated it
    stat_line = n_rows.first()
    if stat_line is None or "rows" not in stat_line.data_type:
        raise AssertionError(f"ANALYZE did not record table stats: {stat_line}")
    table_rows = int(stat_line.data_type.split(",")[1].strip().split(" ")[0])

    rows = []
    for col in ("o_orderkey", "o_custkey"):
        kv = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {db}.stats_t {col}").collect()
        }
        rows.append(
            (col, int(kv["min"]), int(kv["max"]), int(kv["num_nulls"]), table_rows)
        )
    return spark.createDataFrame(
        rows, "col_name string, min_v bigint, max_v bigint, n_nulls bigint,"
        " table_rows bigint"
    )


@register(
    "sql_join_hints",
    oracle="""
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    survey="S12 J9",
)
def sql_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL join-strategy hints (Flink 1.17+ batch hints BROADCAST /
    SHUFFLE_HASH / SHUFFLE_MERGE map 1:1 onto Spark's BROADCAST /
    SHUFFLE_HASH / MERGE hints). The query runs the same join under a
    BROADCAST hint and under a MERGE hint, ASSERTS each produced the
    demanded physical strategy (the hint contract — not just acceptance),
    asserts both agree, and returns the result. Hints are how a user
    overrides the planner when statistics mislead it at 100 TB."""
    from ..plans import audit

    for t in ("orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"jh_{t}")
    body = """
        SELECT /*+ {hint} */ n_name, COUNT(*) AS n_orders
        FROM jh_orders
        JOIN jh_customer ON o_custkey = c_custkey
        JOIN jh_nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """
    q_b = spark.sql(body.format(hint="BROADCAST(jh_customer), BROADCAST(jh_nation)"))
    q_m = spark.sql(body.format(hint="MERGE(jh_customer), MERGE(jh_nation)"))
    pb, pm = audit.plan_text(q_b), audit.plan_text(q_m)
    if "BroadcastHashJoin" not in pb:
        raise AssertionError(f"BROADCAST hint ignored:\n{pb}")
    if "SortMergeJoin" not in pm:
        raise AssertionError(f"MERGE hint ignored:\n{pm}")
    if q_b.exceptAll(q_m).count() != 0 or q_m.exceptAll(q_b).count() != 0:
        raise AssertionError("hinted plans disagree on results")
    return q_b


@register(
    "sql_computed_columns",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR)
             AS order_month,
           CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                      * CAST(1.05 AS DECIMAL(3,2)), 2) AS DOUBLE) AS gross
    FROM orders WHERE o_orderkey <= 1500
    """,
    survey="S12",
)
def sql_computed_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL computed columns (Flink `CREATE TABLE (... , gross AS
    price * 1.05, order_month AS TRUNC(dt))` [docs: create — computed
    columns]): declared as SQL-string expressions in the table spec and
    applied scan-side by the spec layer (tables.apply_computed) — the
    same expansion Flink's planner performs, so every downstream query
    sees them as ordinary columns. The rowtime/watermark declaration
    rides the same spec (tables.TableSpec.event_time/watermark_delay,
    used by every streaming query)."""
    from ..tables import apply_computed

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1500)
    computed = {
        "order_month": "CAST(CAST(date_trunc('month', o_orderdate) AS DATE)"
        " AS STRING)",
        "gross": (
            "CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))"
            " * CAST(1.05 AS DECIMAL(3,2)), 2) AS DOUBLE)"
        ),
    }
    return apply_computed(o, computed).select(
        "o_orderkey", "o_totalprice", "order_month", "gross"
    )


@register(
    "sql_view_lifecycle",
    oracle="""
    WITH v_open AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderstatus = 'O'
    ), v_cust AS (
      SELECT o_custkey, COUNT(*) AS n_open,
             CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 2) AS DOUBLE) AS open_total
      FROM v_open GROUP BY o_custkey
    )
    SELECT * FROM v_cust WHERE n_open >= 2
    """,
    survey="S11 S12",
)
def sql_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIEW DDL lifecycle [Flink: CREATE [TEMPORARY] VIEW / SHOW VIEWS /
    DROP VIEW]: a filtering view, an aggregating view stacked ON the
    first (view-on-view resolution through the catalog), the final query
    read through the top view, SHOW VIEWS asserted to list both, then
    DROP VIEW asserted to actually remove them.  Views are pure catalog
    metadata — Catalyst inlines the definitions, so the stacked plan is
    identical to the hand-written query (the oracle).  Exact-decimal SUM
    before the rounded total keeps .xx5 boundaries engine-stable."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("vl_orders")
    for v in ("vl_open", "vl_cust"):
        spark.sql(f"DROP VIEW IF EXISTS {v}")
    spark.sql(
        "CREATE TEMPORARY VIEW vl_open AS"
        " SELECT o_orderkey, o_custkey, o_totalprice"
        " FROM vl_orders WHERE o_orderstatus = 'O'"
    )
    spark.sql(
        "CREATE TEMPORARY VIEW vl_cust AS"
        " SELECT o_custkey, COUNT(*) AS n_open,"
        " CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
        " AS DOUBLE), 2) AS DOUBLE) AS open_total"
        " FROM vl_open GROUP BY o_custkey"
    )
    shown = {
        r.viewName for r in spark.sql("SHOW VIEWS").collect()
    }
    if not {"vl_open", "vl_cust"} <= shown:
        raise AssertionError(f"SHOW VIEWS missing created views: {shown}")
    out = spark.sql("SELECT * FROM vl_cust WHERE n_open >= 2").localCheckpoint(
        eager=True
    )
    spark.sql("DROP VIEW vl_cust")
    spark.sql("DROP VIEW vl_open")
    left = {r.viewName for r in spark.sql("SHOW VIEWS").collect()}
    if {"vl_open", "vl_cust"} & left:
        raise AssertionError(f"DROP VIEW left views behind: {left}")
    return out


@register(
    "sql_set_reset",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                AS DOUBLE), 2) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    survey="S12",
)
def sql_set_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink sql-client session statements [docs: sql/set]: ``SET
    'k'='v'`` applies a session conf (echoed back key/value, like
    Flink), the next statement runs UNDER it, and ``RESET 'k'``
    restores the default — asserted live against the session conf on
    both edges.  The governed query's VALUES are codegen-independent
    (exact-decimal sum), which is exactly what makes a session-conf
    statement safe to certify.  The key is a codegen switch, not the
    shuffle-partition count: the state-partition pin of the replayed
    streams has one home, `streaming.replay`."""
    from ..functions.flink_sql import flink_sql

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    key = "spark.sql.codegen.wholeStage"
    before = spark.conf.get(key)
    try:
        echo = flink_sql(spark, f"SET '{key}' = 'false'").collect()
        if (echo[0].key, echo[0].value) != (key, "false"):
            raise AssertionError(f"SET echo wrong: {echo}")
        if spark.conf.get(key) != "false":
            raise AssertionError("SET did not apply to the session conf")
        out = flink_sql(
            spark,
            """
            SELECT o_orderpriority, COUNT(*) AS n,
                   CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 2) AS DOUBLE) AS total
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY o_orderpriority
            """,
        ).localCheckpoint(eager=True)
    finally:
        flink_sql(spark, f"RESET '{key}'")
        spark.conf.set(key, before)
    if spark.conf.get(key) != before:
        raise AssertionError("RESET did not restore the default")
    return out


@register(
    "sql_named_arguments",
    oracle="""
    -- money through DECIMAL on both sides (the r5 .xx5 lesson): the
    -- UDF parameter types quantize price/rate before the multiply
    SELECT l_orderkey, l_linenumber,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(0.10 AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS discounted,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(0.25 AS DECIMAL(4,2))), 2) AS DOUBLE)
             AS promo,
           CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2))), 2)
                AS DOUBLE) AS actual
    FROM lineitem WHERE l_orderkey <= 200
    """,
    survey="S12 2.10-ScalarFunction",
)
def sql_named_arguments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLIP-387 (Flink 1.19): NAMED function parameters + parameter
    DEFAULTS — ``f(rate => 0.25, price => p)`` calls run VERBATIM, in
    any argument order, with omitted parameters taking their declared
    defaults.  Spark 4's SQL UDFs carry the same surface natively
    (named arguments + DEFAULT clauses), so the dialect layer passes
    the statement through unchanged; the three call shapes below cover
    positional, named-out-of-order, and default-elided forms, and the
    oracle recomputes each discount arithmetically (exact: money stays
    in DECIMAL until the final ROUND; one deterministic cast to DOUBLE
    for the comparator)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "named_li"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION discounted_price("
        "price DECIMAL(12,2), rate DECIMAL(4,2) DEFAULT 0.10) "
        "RETURNS DECIMAL(14,4) RETURN price * (1 - rate)"
    )
    try:
        return spark.sql(
            """
            SELECT l_orderkey, l_linenumber,
                   CAST(ROUND(discounted_price(l_extendedprice), 2)
                        AS DOUBLE) AS discounted,
                   CAST(ROUND(discounted_price(
                            rate => CAST(0.25 AS DECIMAL(4,2)),
                            price => l_extendedprice), 2) AS DOUBLE)
                     AS promo,
                   CAST(ROUND(discounted_price(price => l_extendedprice,
                                               rate => l_discount), 2)
                        AS DOUBLE) AS actual
            FROM named_li WHERE l_orderkey <= 200
            """
        ).localCheckpoint()
    finally:
        spark.sql("DROP TEMPORARY FUNCTION IF EXISTS discounted_price")


@register(
    "sql_explain_surface",
    oracle="""
    SELECT stmt, section, item FROM (VALUES
      ('plan',      'node', 'Calc(select)'),
      ('plan',      'node', 'Calc(where)'),
      ('plan',      'node', 'Exchange'),
      ('plan',      'node', 'HashAggregate'),
      ('plan',      'node', 'Sort'),
      ('plan',      'node', 'TableSourceScan'),
      ('plan',      'prop', 'filter_pushdown=true'),
      ('plan',      'prop', 'codegen=true'),
      ('plan',      'prop', 'exchanges=4'),
      ('agg',       'changelog', 'source=[I]'),
      ('agg',       'changelog', 'aggregate=[I,UA,UB,D]'),
      ('agg',       'changelog', 'sink=update+keyed_merge'),
      ('window',    'changelog', 'source=[I]'),
      ('window',    'changelog', 'aggregate=[I]'),
      ('window',    'changelog', 'sink=append+direct'),
      ('stateless', 'changelog', 'source=[I]'),
      ('stateless', 'changelog', 'sink=append+direct')
    ) AS t(stmt, section, item)
    """,
    survey="S12 §4 §7.4",
)
def sql_explain_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's ``EXPLAIN`` statement surface [docs: Flink SQL EXPLAIN —
    ``EXPLAIN PLAN FOR`` and the 1.19 ExplainDetails, of which
    CHANGELOG_MODE maps onto this engine's §7.4 inference;
    ESTIMATED_COST/PLAN_ADVICE raise as declared out of surface]:

    - ``EXPLAIN PLAN FOR`` runs the statement through the dialect layer
      and reports the optimized physical plan in Flink operator names
      (TableSourceScan / Calc / HashAggregate / Exchange / Sort ...)
      plus the optimizer properties the plan-pin tests assert — filter
      pushdown reached the scan, whole-stage codegen, exchange count.
      The rows are LIVE introspection of the Catalyst plan
      (plans/audit.py), so the oracle's pinned constants break if the
      plan shape ever regresses — the same contract as a Flink
      compiled-plan restore test, expressed through the driver's hash
      gate.
    - ``EXPLAIN CHANGELOG_MODE`` reports the per-stage RowKind sets of
      the §7.4 changelog-kind inference (insert-only [I] vs retracting
      [I,UA,UB,D]) and the sink plan the engine picks
      (streaming/sinks.SINK_PLANS) for an unwindowed aggregate, a
      window-TVF aggregate, and a stateless select."""
    from ..functions.flink_sql import run_explain
    from ..tables import register_views

    register_views(spark, sf_dir)
    stmts = {
        "plan": (
            "EXPLAIN PLAN FOR SELECT l_returnflag, COUNT(*) AS n "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ),
        "agg": (
            "EXPLAIN CHANGELOG_MODE SELECT user_id, COUNT(*) AS n "
            "FROM events GROUP BY user_id"
        ),
        "window": (
            "EXPLAIN CHANGELOG_MODE SELECT window_start, event_type, "
            "COUNT(*) AS n FROM TABLE(TUMBLE(TABLE events, "
            "DESCRIPTOR(ts), INTERVAL '1' HOUR)) "
            "GROUP BY window_start, event_type"
        ),
        "stateless": (
            "EXPLAIN CHANGELOG_MODE SELECT event_id, value "
            "FROM events WHERE value > 10"
        ),
    }
    rows = [
        (tag, section, item)
        for tag, stmt in stmts.items()
        for section, item in run_explain(spark, stmt)
    ]
    return spark.createDataFrame(
        rows, "stmt string, section string, item string"
    )


@register(
    "sql_show_create_table",
    oracle="""
    SELECT * FROM (VALUES
      ('column',   'o_orderkey BIGINT'),
      ('column',   'o_orderstatus STRING'),
      ('column',   'o_totalprice DOUBLE'),
      ('provider', 'parquet'),
      ('comment',  'orders snapshot'),
      ('tblprop',  'graft.tier=gold')
    ) AS t(section, item)
    """,
    survey="S12",
)
def sql_show_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SHOW CREATE TABLE`` [docs: Flink 1.19 SQL SHOW statements —
    added for tables in 1.16]: create a managed table with a comment
    and a table property, read its DDL back through the catalog, and
    emit the STABLE fields — column name/type pairs in declaration
    order, the storage provider, the comment, and the user property.
    Volatile fields (warehouse location, creation metadata) are
    deliberately excluded: the oracle pins exactly the round-trippable
    surface, so a catalog regression that drops a column, widens a
    type, or loses a property breaks the hash while a relocated
    warehouse does not."""
    import re as _re

    db = "graft_ddl_sct"
    _reset_managed(spark, db, "sct_t")
    spark.sql(
        f"CREATE TABLE {db}.sct_t ("
        " o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)"
        " USING PARQUET"
        " COMMENT 'orders snapshot'"
        " TBLPROPERTIES ('graft.tier' = 'gold')"
    )
    stmt = spark.sql(f"SHOW CREATE TABLE {db}.sct_t").first()[0]

    rows: list[tuple[str, str]] = []
    body = stmt[stmt.index("(") + 1:]
    depth, col_part = 1, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        col_part.append(ch)
    for col in "".join(col_part).split(","):
        col = col.strip()
        if col:
            name, ctype = col.split(None, 1)
            rows.append(("column", f"{name} {ctype.strip().upper()}"))
    m = _re.search(r"USING\s+(\w+)", stmt, _re.IGNORECASE)
    rows.append(("provider", m.group(1).lower() if m else "?"))
    m = _re.search(r"COMMENT\s+'([^']*)'", stmt)
    rows.append(("comment", m.group(1) if m else "?"))
    m = _re.search(r"'graft\.tier'\s*=\s*'([^']*)'", stmt)
    rows.append(("tblprop", f"graft.tier={m.group(1)}" if m else "?"))
    return spark.createDataFrame(rows, "section string, item string")
