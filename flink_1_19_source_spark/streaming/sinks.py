"""Changelog-aware sinks (SURVEY §1.3, §7.4, X4/X6).

Flink models streaming results as changelogs (RowKind +I/-U/+U/-D) and
lets sinks declare which modes they accept. Spark has no first-class
retraction streams; the engine's equivalent is this module:

- output_mode_for(shape): the §7.4 planning table — pick Spark's
  append/update/complete per query shape.
- UpsertSink: foreachBatch MERGE keyed by primary key — the upsert-kafka /
  JDBC-upsert sink equivalent. Idempotent per (pk, batch) so availableNow
  retries converge (exactly-once effect on the materialized view).
- interpret_cdc: debezium/canal-style op column → RowKind mapping (X6);
  apply_changelog folds +I/+U/-D into a keyed table.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SinkPlan:
    """One row of the §7.4 output-mode planning table.

    - ``output_mode``: what ``writeStream.outputMode`` gets — Flink's
      changelog kind collapsed onto Spark's three modes (insert-only →
      append; upsert/retract → update).
    - ``sink``: "direct" = the rows ARE the result (append them / show the
      update stream); "keyed_merge" = the rows are an upsert changelog that
      only a keyed MERGE sink (foreachBatch → UpsertSink / JDBC
      staging+MERGE / Delta MERGE) can materialize correctly.
    """

    output_mode: str  # append | update | complete
    sink: str         # direct | keyed_merge


#: §7.4 planning table: streaming query shape → sink plan. Shapes mirror
#: Flink's changelog-kind inference (insert-only vs upsert vs retract).
SINK_PLANS: dict[str, SinkPlan] = {
    "stateless": SinkPlan("append", "direct"),           # select/filter/explode
    "windowed_agg": SinkPlan("append", "direct"),        # emit on window close
    "global_agg": SinkPlan("update", "keyed_merge"),     # unwindowed GROUP BY
    "topn": SinkPlan("update", "keyed_merge"),           # retract → snapshot
    "dedup_keep_first": SinkPlan("append", "direct"),    # first arrival final
    "dedup_keep_last": SinkPlan("update", "keyed_merge"),  # later rows retract
    "stream_stream_join": SinkPlan("append", "direct"),  # insert-only inputs
    "over_agg": SinkPlan("append", "direct"),            # per-row emit, no retract
    "session_timers": SinkPlan("append", "direct"),      # emit on timer fire
    "cep_match": SinkPlan("append", "direct"),           # matches are final
    "count_window": SinkPlan("append", "direct"),        # count-trigger fires are final
    "cdc_apply": SinkPlan("update", "keyed_merge"),      # +I/+U/-D changelog
    "chained_agg": SinkPlan("update", "keyed_merge"),    # agg over retract stream
    "late_side_output": SinkPlan("append", "direct"),    # two insert-only sides
}


def plan_sink(shape: str) -> SinkPlan:
    """Pick the Spark sink plan for a streaming query shape (§7.4)."""
    return SINK_PLANS[shape]


def output_mode_for(shape: str) -> str:
    return SINK_PLANS[shape].output_mode


class UpsertSink:
    """Driver-side keyed MERGE sink for unit tests ONLY — collects each
    batch, so it is a driver bottleneck by construction. Query code uses
    the distributed siblings: ParquetMergeSink (CoW file merge, below) or
    JDBC staging+MERGE (sources/jdbc.py). Contract is identical across
    all three: per micro-batch, group by primary key, last writer wins,
    '-D' deletes; replays of a batch_id are no-ops (exactly-once)."""

    def __init__(self, pk_cols: list[str], op_col: str | None = None):
        self.pk_cols = pk_cols
        self.op_col = op_col
        self.rows: dict[tuple, dict] = {}
        self.seen_batches: set[int] = set()
        self._lock = threading.Lock()

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        with self._lock:
            if batch_id in self.seen_batches:
                return
            self.seen_batches.add(batch_id)
            for row in batch_df.collect():
                d = row.asDict()
                key = tuple(d[c] for c in self.pk_cols)
                if self.op_col and d.get(self.op_col) == "-D":
                    self.rows.pop(key, None)
                else:
                    self.rows[key] = d

    def snapshot(self) -> list[dict]:
        with self._lock:
            return list(self.rows.values())


class ParquetMergeSink:
    """Distributed keyed-MERGE sink: materializes an update/changelog
    stream into a hash-bucketed, parquet-backed table with copy-on-write
    versions — the Delta/Iceberg MERGE shape without the table format, and
    the no-driver-rows replacement for the test-local UpsertSink.

    Per micro-batch (all DataFrame ops; only B-row bucket metadata and the
    manifest touch the driver):

    1. materialize the batch once (``localCheckpoint``), each row tagged
       with its arrival order and its bucket (``pmod(xxhash64(pk), B)``);
       the same job observes the set of touched buckets, a ≤B-value
       metric — no second pass to find them;
    2. if no bucket was touched (a micro-batch that emits nothing, e.g.
       one whose watermark closed no window), skip the read and the
       write: only the manifest advances, so the replay guard and time
       travel see the batch as committed;
    3. read only the touched buckets of the current version, with the
       table schema kept in the manifest (no footer scan; the schema only
       ever widens, so it covers every live bucket), and union the batch;
    4. shuffle by bucket and keep one row per primary key with a window
       over (bucket, pk): the batch beats the table, and within the batch
       the last writer by ``order_cols`` (or stable arrival order) wins —
       so a delete-then-reinsert changelog batch lands as the reinsert,
       matching UpsertSink exactly, and a null key is a key like any
       other. A key whose final op is '-D' is simply not written;
    5. write ``v{batch_id}/__bucket=K/`` partitions in ONE job — the
       shuffle leaves each touched bucket in one task, so each is ONE
       file;
    6. atomically flip the ``_CURRENT`` manifest, which maps each bucket
       to the version that last rewrote it.

    Untouched buckets are never read or rewritten — per-batch cost is
    O(batch ∪ touched-bucket state), not O(table). At 100 TB, ``B`` grows
    to thousands so a bucket is a few GB; the remaining gap to a real
    MERGE INTO (Delta/Iceberg) is file-level instead of bucket-level
    pruning. The sink's *interface* (foreachBatch + pk + op col) is
    already that contract.

    Exactly-once: a replayed batch rebuilds ``v{batch_id}`` from the same
    predecessor state (the manifest is flipped only after the write, so a
    crash-replay re-derives it deterministically) and re-flips the
    manifest to the same value — idempotent.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        pk_cols: list[str],
        op_col: str | None = None,
        num_buckets: int = 16,
        order_cols: list[str] | None = None,
        retain_history: bool = False,
    ):
        import os

        self.spark = spark
        self.state_dir = state_dir
        self.pk_cols = pk_cols
        self.op_col = op_col
        self.num_buckets = num_buckets
        # within-batch tiebreak for multiple ops on one key; None falls
        # back to stable arrival order (monotonically_increasing_id)
        self.order_cols = order_cols
        # time travel: keep an immutable _SNAPSHOT_{batch} manifest per
        # commit and never prune version dirs, so snapshot_df(as_of_batch=k)
        # reads the table exactly as of commit k — Flink 1.18+'s
        # `FOR SYSTEM_TIME AS OF` catalog time travel. A production
        # deployment GCs by snapshot-retention policy instead of never.
        self.retain_history = retain_history
        os.makedirs(state_dir, exist_ok=True)
        self._ptr = os.path.join(state_dir, "_CURRENT")

    def _manifest(self) -> dict | None:
        import json
        import os

        if not os.path.exists(self._ptr):
            return None
        with open(self._ptr) as f:
            return json.load(f)

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.pk_cols]), F.lit(self.num_buckets)
        ).cast("int")

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        import json
        import os
        import shutil

        from pyspark.sql import Observation
        from pyspark.sql.types import StructType
        from pyspark.sql.window import Window

        man = self._manifest()
        # replay guard: manifest already at or past this batch → no-op
        if man is not None and man["batch"] >= batch_id:
            return
        # 1. materialize the batch once, tagged with its arrival order and
        # bucket; the same job observes the touched buckets (≤B values)
        seen = Observation()
        batch = (
            batch_df.withColumn("__ord", F.monotonically_increasing_id())
            .withColumn("__bucket", self._bucket_expr())
            .observe(seen, F.collect_set("__bucket").alias("touched"))
            .localCheckpoint(eager=True)
        )
        touched = sorted(seen.get["touched"])
        buckets = dict(man["buckets"]) if man else {}
        schema = StructType.fromJson(json.loads(man["schema"])) if man else None
        vname = f"v{batch_id}"
        # 2. an empty batch writes nothing; only the manifest advances
        if touched:
            cur_paths = [
                os.path.join(self.state_dir, buckets[str(k)], f"__bucket={k}")
                for k in touched
                if str(k) in buckets
            ]
            # 3. the touched slice of the current version, read with the
            # manifest's table schema (a file written before a column was
            # added null-fills it), plus the batch, whose new columns
            # widen the table — schema evolution across a restart
            rows = batch.withColumn("__new", F.lit(1))
            if cur_paths:
                cur = (
                    self.spark.read.schema(schema)
                    .parquet(*cur_paths)
                    .withColumn("__bucket", self._bucket_expr())
                    .withColumn("__new", F.lit(0))
                )
                rows = cur.unionByName(rows, allowMissingColumns=True)
            # 4. one row per key: the batch beats the table, then last
            # writer in the batch; a window over (bucket, pk) on rows
            # shuffled by bucket is null-safe on pk and leaves each bucket
            # in one task, so the write below is one file per bucket
            order = [F.col("__new").desc()] + (
                [F.col(c).desc() for c in self.order_cols]
                if self.order_cols
                else [F.col("__ord").desc()]
            )
            w = Window.partitionBy("__bucket", *self.pk_cols).orderBy(*order)
            merged = (
                rows.repartition("__bucket")
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
            )
            if self.op_col is not None:
                # a key whose final op is '-D' is deleted by not being
                # written; table rows carry no op column
                merged = merged.filter(
                    ~F.col(self.op_col).eqNullSafe("-D")
                ).drop(self.op_col)
            # 5. one job writes every touched bucket as a partition of
            # v{batch}
            vdir = os.path.join(self.state_dir, vname)
            merged.drop("__rn", "__ord", "__new").write.mode(
                "overwrite"
            ).partitionBy("__bucket").parquet(vdir)
            # re-point touched buckets (a bucket emptied by deletes writes
            # no partition dir — drop it from the manifest)
            for k in touched:
                if os.path.isdir(os.path.join(vdir, f"__bucket={k}")):
                    buckets[str(k)] = vname
                else:
                    buckets.pop(str(k), None)
        # 6. flip the manifest atomically. Its schema only ever widens, so
        # it covers every live bucket's file schema
        table = batch.drop(*[c for c in ("__ord", "__bucket", self.op_col) if c])
        if schema is not None:
            table = self.spark.createDataFrame([], schema).unionByName(
                table, allowMissingColumns=True
            )
        manifest = {
            "batch": batch_id,
            "buckets": buckets,
            "schema": table.schema.json(),
        }
        tmp = self._ptr + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._ptr)
        if self.retain_history:
            # immutable per-commit snapshot manifest; version dirs it
            # references are never pruned (time-travel reads)
            snap = os.path.join(self.state_dir, f"_SNAPSHOT_{batch_id:05d}")
            with open(snap + ".tmp", "w") as f:
                json.dump(manifest, f)
            os.replace(snap + ".tmp", snap)
            return
        # prune versions no longer referenced by the manifest we just wrote
        # or its predecessor (crash between write and flip never orphans
        # the committed base)
        keep = set(buckets.values()) | {vname}
        if man:
            keep |= set(man["buckets"].values())
        for d in os.listdir(self.state_dir):
            if d.startswith("v") and d[1:].isdigit() and d not in keep:
                shutil.rmtree(os.path.join(self.state_dir, d), ignore_errors=True)

    def snapshot_df(self, as_of_batch: int | None = None) -> DataFrame:
        """Current table state, or — with ``as_of_batch`` and
        ``retain_history`` — the state exactly as of that commit
        (Flink `FOR SYSTEM_TIME AS OF` catalog time travel)."""
        import json
        import os

        from pyspark.sql.types import StructType

        if as_of_batch is not None:
            snap = os.path.join(
                self.state_dir, f"_SNAPSHOT_{as_of_batch:05d}"
            )
            if not os.path.exists(snap):
                raise ValueError(
                    f"no snapshot for batch {as_of_batch} "
                    "(sink not created with retain_history=True?)"
                )
            with open(snap) as f:
                man = json.load(f)
        else:
            man = self._manifest()
        if man is None:
            raise ValueError("ParquetMergeSink: no committed version yet")
        paths = [
            os.path.join(self.state_dir, v, f"__bucket={k}")
            for k, v in man["buckets"].items()
        ]
        if not paths:
            schema = StructType.fromJson(__import__("json").loads(man["schema"]))
            return self.spark.createDataFrame([], schema)
        # mergeSchema: buckets untouched since before a schema evolution
        # still live in old-schema version dirs; widen + null-fill
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)


def expire_snapshots(
    sink: "ParquetMergeSink", older_than_batch: int
) -> tuple[int, int]:
    """Snapshot retention (Iceberg ``expireSnapshots`` / Delta VACUUM for
    the history-retaining sink): drop every per-commit snapshot manifest
    with batch < ``older_than_batch``, then garbage-collect version
    directories no surviving manifest (including ``_CURRENT``)
    references.  Time-travel reads of an expired commit fail with a
    clear error; surviving snapshots and the current table are
    untouched — the retention contract a production table enforces so
    history doesn't grow without bound.  Returns
    (n_snapshots_expired, n_versions_removed); driver-side work is
    manifest-file metadata only."""
    import json
    import os
    import shutil

    import re as _re

    # committed snapshots only: a leftover _SNAPSHOT_*.tmp from a crash
    # mid-write (the exact window the tmp+os.replace protocol defends)
    # must be ignored, not parsed or int()-ed
    snap_re = _re.compile(r"^_SNAPSHOT_(\d+)$")
    expired = 0
    for d in sorted(os.listdir(sink.state_dir)):
        sm = snap_re.match(d)
        if sm and int(sm.group(1)) < older_than_batch:
            os.remove(os.path.join(sink.state_dir, d))
            expired += 1
    keep: set[str] = set()
    for d in os.listdir(sink.state_dir):
        if snap_re.match(d):
            with open(os.path.join(sink.state_dir, d)) as f:
                keep |= set(json.load(f)["buckets"].values())
    man = sink._manifest()
    if man:
        keep |= set(man["buckets"].values())
    removed = 0
    for d in os.listdir(sink.state_dir):
        if d.startswith("v") and d[1:].isdigit() and d not in keep:
            shutil.rmtree(os.path.join(sink.state_dir, d), ignore_errors=True)
            removed += 1
    return expired, removed


def snapshot_changes(
    sink: "ParquetMergeSink", from_batch: int, to_batch: int
) -> DataFrame:
    """Incremental scan between two snapshots (Iceberg incremental read /
    Flink versioned-table changelog): the RowKind-classified difference
    between commit ``from_batch`` and commit ``to_batch``.

    Keys present only in the newer snapshot emit ``+I`` (their new row),
    keys in both whose payload changed emit ``+U`` (the new row), keys
    present only in the older snapshot emit ``-D`` (their old row).
    Unchanged keys emit nothing — the reader pays for the delta, not the
    table.  All set-based: two snapshot reads + ONE full-outer join on
    pk with a null-safe payload struct compare."""
    old = sink.snapshot_df(as_of_batch=from_batch)
    new = sink.snapshot_df(as_of_batch=to_batch)
    pk = sink.pk_cols
    payload = [c for c in new.columns if c not in pk]
    o = old.select(
        *pk,
        F.lit(1).alias("__in_old"),
        *[F.col(c).alias(f"__old_{c}") for c in payload],
    )
    n = new.select(*pk, F.lit(1).alias("__in_new"), *payload)
    j = n.join(o, pk, "full_outer")
    new_struct = F.struct(*[F.col(c) for c in payload])
    old_struct = F.struct(
        *[F.col(f"__old_{c}").alias(c) for c in payload]
    )
    kind = (
        F.when(F.col("__in_old").isNull(), "+I")
        .when(F.col("__in_new").isNull(), "-D")
        .when(~new_struct.eqNullSafe(old_struct), "+U")
    )
    out_payload = [
        F.when(F.col("__in_new").isNull(), F.col(f"__old_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in payload
    ]
    return (
        j.withColumn("_rowkind", kind)
        .filter(F.col("_rowkind").isNotNull())
        .select("_rowkind", *pk, *out_payload)
    )


#: debezium-ish op → Flink RowKind
CDC_OP_TO_ROWKIND = {"c": "+I", "r": "+I", "u": "+U", "d": "-D"}


def interpret_cdc(df: DataFrame, op_col: str = "op") -> DataFrame:
    """Map a CDC op column (c/r/u/d) to a `_rowkind` column (+I/+U/-D) —
    Flink's changelog ingestion for debezium/canal formats (X6)."""
    m = F.create_map(
        *[F.lit(x) for kv in CDC_OP_TO_ROWKIND.items() for x in kv]
    )
    return df.withColumn("_rowkind", m[F.col(op_col)])


def fold_changelog_batch(
    df: DataFrame,
    pk_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Reduce a changelog to the latest op per key (ts desc, then
    `tiebreak_cols` desc for determinism), KEEPING '-D' rows as delete
    markers — the per-micro-batch reduction a keyed MERGE sink applies
    before its single MERGE statement."""
    from pyspark.sql.window import Window

    order = [F.col(ts_col).desc()] + [
        F.col(c).desc() for c in (tiebreak_cols or [])
    ]
    w = Window.partitionBy(*pk_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changelog(
    df: DataFrame,
    pk_cols: list[str],
    ts_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Batch-fold a changelog into its final table state: last op per key
    wins; '-D' rows drop the key. This is the materialization a
    retraction-consuming sink would build."""
    latest = fold_changelog_batch(df, pk_cols, ts_col, tiebreak_cols)
    return latest.filter(F.col("_rowkind") != "-D")
