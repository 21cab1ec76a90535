"""N1/N2-tier streaming + adversarial dedup queries (SURVEY §2.11).

Streaming incremental MinHash-LSH dedup, winnowing fingerprint overlap
(the MOSS measure), canonical-doc election over near-dup clusters, the
band-cap skew guard certified binding on adversarial boilerplate, and
streaming chunk-level dedup at ingest.  Split out of llm3.py (r8); same
oracle discipline as queries/llm.py — seeded constants are embedded as
SQL literals so DuckDB replays the exact hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..operators import dedup
from ..registry import register
from ..tables import load_table

from .llm import _SHINGLE_HASH_CTES

from .llm_tokenize import _CHUNK_S, _CHUNK_W


# --------------------------------------------------------------------------
# N2-S — streaming incremental MinHash-LSH dedup
# --------------------------------------------------------------------------
def _s_minhash_oracle(num_hashes: int = 32, bands: int = 8, seed: int = 42) -> str:
    """Whole-stream replay of the online dedup: a doc's dup_of is the
    smallest earlier doc_id sharing ANY band bucket (arrival order ==
    doc_id order in the replay), n_dup_bands counts the bands that hit."""
    pa, pb = dedup.minhash_perms(num_hashes, seed)
    rpb = num_hashes // bands
    perms = ", ".join(f"({k}, {a}, {b})" for k, (a, b) in enumerate(zip(pa, pb)))
    return f"""
    WITH {_SHINGLE_HASH_CTES},
    perms(k, a, b) AS (VALUES {perms}),
    sig AS (
      SELECT doc_id, k, MIN(((h % 2147483647) * a + b) % 2147483647) AS sv
      FROM hv CROSS JOIN perms GROUP BY doc_id, k
    ), bandkey AS (
      SELECT doc_id, k // {rpb} AS band,
             string_agg(CAST(sv AS VARCHAR), ',' ORDER BY k) AS key
      FROM sig GROUP BY doc_id, k // {rpb}
    ), m AS (
      SELECT b.doc_id, MIN(a.doc_id) AS dup_of,
             CAST(COUNT(DISTINCT a.band) AS BIGINT) AS n_dup_bands
      FROM bandkey a JOIN bandkey b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
      GROUP BY b.doc_id
    )
    SELECT d.doc_id, m.dup_of, m.dup_of IS NOT NULL AS is_dup,
           COALESCE(m.n_dup_bands, 0) AS n_dup_bands
    FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id
    """


@register(
    "s_minhash_dedup_stream",
    oracle=_s_minhash_oracle(),
    survey="N2 N1-S X2 X4",
    tags=("streaming",),
)
def s_minhash_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental MinHash-LSH dedup — the online near-dup
    gate a training-data ingest pipeline runs continuously: each arriving
    micro-batch of documents is (1) MinHash-signed and banded (one Arrow
    pass, no shuffle), (2) probed against the accumulated band-bucket
    index PLUS its own earlier rows (one join keyed on the band bucket —
    work ∝ bucket hits, never corpus²), and (3) appended to the index.

    State is an APPEND-ONLY bucket log: each batch writes only its own
    O(batch) segment (`seg-<bid>`, overwrite ⇒ idempotent on crash
    replay), never rewriting history — the 100 TB shape, where the index
    is a date-partitioned table and today's ingest probes it without
    touching yesterday's files (same contract as n1_incremental_dedup's
    broadcast-digest history).  A replayed batch re-probes against a
    state that may already contain its own rows; the strict `<` on
    doc_id and the MIN/COUNT(DISTINCT) aggregates make the verdicts
    identical, so crash-resume converges (X4).

    Verdict per doc: (doc_id, dup_of = min earlier doc sharing a band,
    is_dup, n_dup_bands).  The drained stream hash-matches the one-shot
    whole-corpus LSH replay (the oracle), estimate-free: banding is
    exact given the signatures.  The crash-convergence claim is pinned
    by tests/test_r6_ops.py::test_minhash_dedup_stream_crash_replay,
    which injects a torn state segment mid-run through this same core
    (``_minhash_dedup_run``).
    """
    return _minhash_dedup_run(spark, sf_dir)


def _minhash_dedup_run(
    spark: SparkSession, sf_dir: str, crash_once_at: int | None = None
) -> DataFrame:
    """The streaming-dedup core.  ``crash_once_at=b`` injects a failure
    in batch b AFTER a torn (partial) state segment lands — the worst
    crash point — then restarts on the same checkpoint; the replayed
    batch sees its own torn rows in the index, which the strict `<` and
    MIN/COUNT(DISTINCT) aggregates absorb."""
    import glob as _glob
    import os
    import shutil
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_mhdedup")
    run = uuid.uuid4().hex[:8]
    state_dir = os.path.join(wd, f"state-{run}")
    out_dir = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    os.makedirs(out_dir, exist_ok=True)
    # self-compacting band-bucket index: fold every 2 batches, keeping
    # only the MIN doc per (band, key) — exactly what the strict-< probe
    # consumes — so the index is bounded by DISTINCT buckets, not uptime
    store = SegmentStore(
        spark, state_dir, compact_every=2,
        merge=lambda df: df.groupBy("band", "key")
        .agg(F.min("id").alias("id"))
        .select("id", "band", "key"),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=_CHUNKS, order_by=["doc_id"],
        files_per_trigger=2,
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(batch, bid: int) -> None:
        buckets = dedup.minhash_band_buckets(
            batch, "doc_id", "text", n=3, num_hashes=32, bands=8
        )
        flat = buckets.select(
            "id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
        ).localCheckpoint(eager=True)
        earlier = flat.select(F.col("id").alias("eid"), "band", "key")
        hist = store.read()
        if hist is not None:
            earlier = earlier.unionByName(
                hist.select(F.col("id").alias("eid"), "band", "key")
            )
        hits = (
            flat.join(earlier, ["band", "key"])
            .filter(F.col("eid") < F.col("id"))
            .groupBy("id")
            .agg(
                F.min("eid").alias("dup_of"),
                F.countDistinct("band").alias("n_dup_bands"),
            )
        )
        verdicts = (
            batch.select("doc_id")
            .join(hits.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .select(
                "doc_id",
                "dup_of",
                F.col("dup_of").isNotNull().alias("is_dup"),
                F.coalesce("n_dup_bands", F.lit(0)).cast("long").alias("n_dup_bands"),
            )
        )
        if crash.fire(bid):
            # torn write: a partial state segment lands, then the
            # "process" dies before the verdicts commit
            flat.limit(5).write.mode("overwrite").parquet(
                os.path.join(state_dir, f"seg-{bid:04d}")
            )
            raise RuntimeError("injected crash after torn state segment")
        # overwrite per-batch paths ⇒ replay-idempotent emission and state
        verdicts.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"out-{bid:04d}")
        )
        store.append(flat, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    outs = sorted(_glob.glob(os.path.join(out_dir, "out-*")))
    res = (
        spark.read.parquet(*outs)
        .select("doc_id", "dup_of", "is_dup", "n_dup_bands")
        .localCheckpoint(eager=True)
    )
    for d in (state_dir, out_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return res


# --------------------------------------------------------------------------
# N2 — winnowing fingerprint-overlap pairs (MOSS-style)
# --------------------------------------------------------------------------
@register(
    "n2_winnow_overlap_pairs",
    oracle="""
    WITH pos AS (
        SELECT doc_id, LOWER(text) AS t,
               GREATEST(LEN(LOWER(text)) - 7, 1) AS n,
               UNNEST(generate_series(1, GREATEST(LEN(LOWER(text)) - 7, 1)))
                 AS i
        FROM documents WHERE doc_id < 200
    ), h AS (
        SELECT doc_id, i, n,
               CAST(concat('0x', substr(md5(substr(t, CAST(i AS INTEGER), 8)),
                                        1, 8)) AS BIGINT) AS hv
        FROM pos
    ), wm AS (
        SELECT doc_id, i, n,
               MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS fp
        FROM h
    ), fset AS (
        SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n - 15
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS sz FROM fset GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM fset a JOIN fset b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(CAST(n_shared AS DOUBLE) / LEAST(sa.sz, sb.sz), 9) AS overlap
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(n_shared AS DOUBLE) / LEAST(sa.sz, sb.sz) >= 0.5
    """,
    survey="N2 N4",
)
def n2_winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint overlap pairs [Schleimer et al. 2003 — the
    MOSS similarity measure]: documents whose selected-fingerprint sets
    overlap by ≥ 50% of the smaller set.  Reuses the same rolling-hash +
    window-minimum fingerprints n4_winnow_fingerprints certifies; the
    self-join keys on the fingerprint (an inverted index — work ∝
    per-fingerprint document frequency, same scale rule as the shingle
    index, cappable the same way at 100 TB).  Winnowing guarantees any
    shared substring ≥ w+k−1 chars yields a shared fingerprint, so high
    overlap ⇒ long verbatim reuse — the plagiarism/near-dup signal."""
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    fset = (
        ta.winnow_fingerprints(d, "doc_id", "text", k=8, w=16)
        .select("id", "fp")
        .distinct()
    )
    sizes = fset.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = fset.alias("a")
    b = fset.alias("b")
    inter = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    ratio = F.col("n_shared") / F.least("sz_a", "sz_b")
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(ratio >= 0.5)
        .select(
            "id_a", "id_b", F.col("n_shared").cast("long").alias("n_shared"),
            F.round(ratio, 9).alias("overlap"),
        )
    )


# --------------------------------------------------------------------------
# N2 — cluster canonical selection (keep the best member per dedup cluster)
# --------------------------------------------------------------------------
def _canonical_oracle() -> str:
    from ..registry import REGISTRY

    clusters = REGISTRY["n2_dedup_clusters"].oracle
    return f"""
    WITH comp AS ({clusters}),
    members AS (
      SELECT c.id, c.component, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.id
    ), pick AS (
      SELECT component, id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, id) AS rk,
             COUNT(*) OVER (PARTITION BY component) AS n_members
      FROM members
    )
    SELECT component, id AS canonical_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_chars AS BIGINT) AS kept_chars,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM pick WHERE rk = 1
    """


@register(
    "n2_cluster_canonical",
    oracle=_canonical_oracle(),
    survey="N2 N1",
)
def n2_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-member selection per near-dup cluster — the decision
    step after n2_dedup_clusters' components: keep the LONGEST member
    (most complete version, ties to the lower doc_id), drop the rest.
    The min-id convention elsewhere is a special case; real corpus
    dedup keeps the best-quality copy, and any deterministic per-member
    score slots into the same argmax window.  One extra window over the
    component partitioning — no new shuffle beyond the components'."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = dedup.ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.2)
    comp = dedup.connected_components(pairs)
    members = comp.join(
        d.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("id")
    )
    cw = Window.partitionBy("component")
    return (
        members.select(
            "component",
            "id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(cw).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "component",
            F.col("id").alias("canonical_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("n_chars").cast("long").alias("kept_chars"),
            (F.col("n_members") - 1).cast("long").alias("n_dropped"),
        )
    )


# --------------------------------------------------------------------------
# N2 — skew-guard certification: the band-bucket cap SEEN binding
# --------------------------------------------------------------------------
_SKEW_BOILER = (
    "click here to accept all cookies and subscribe to our newsletter"
    " for exclusive updates today"
)
_SKEW_CAP = 32


def _lsh_capped_skew_oracle(
    num_hashes: int = 32, bands: int = 8, seed: int = 42
) -> str:
    pa, pb = dedup.minhash_perms(num_hashes, seed)
    rpb = num_hashes // bands
    perms = ", ".join(
        f"({k}, {a}, {b})" for k, (a, b) in enumerate(zip(pa, pb))
    )
    shingles = _SHINGLE_HASH_CTES.replace("FROM documents", "FROM adv")
    return f"""
    WITH adv AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0 THEN text
                  ELSE '{_SKEW_BOILER}' END AS text
      FROM documents
    ), {shingles},
    perms(k, a, b) AS (VALUES {perms}),
    sig AS (
      SELECT doc_id, k, MIN(((h % 2147483647) * a + b) % 2147483647) AS sv
      FROM hv CROSS JOIN perms GROUP BY doc_id, k
    ), bandkey AS (
      SELECT doc_id, k // {rpb} AS band,
             string_agg(CAST(sv AS VARCHAR), ',' ORDER BY k) AS key
      FROM sig GROUP BY doc_id, k // {rpb}
    ), bsize AS (
      SELECT band, key, COUNT(*) AS c FROM bandkey GROUP BY band, key
    ), dropped AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_dropped
      FROM bsize WHERE c > {_SKEW_CAP}
    ), ok AS (
      SELECT bk.doc_id, bk.band, bk.key
      FROM bandkey bk JOIN bsize
        ON bsize.band = bk.band AND bsize.key = bk.key
      WHERE bsize.c <= {_SKEW_CAP}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ok a JOIN ok b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b,
           CAST(SUM(CASE WHEN sa.sv = sb.sv THEN 1 ELSE 0 END) AS DOUBLE)
             / {num_hashes} AS est_jaccard,
           (SELECT n_dropped FROM dropped) AS n_dropped_buckets
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.id_a
    JOIN sig sb ON sb.doc_id = c.id_b AND sb.k = sa.k
    GROUP BY c.id_a, c.id_b
    """


@register(
    "n2_lsh_capped_skew",
    oracle=_lsh_capped_skew_oracle(),
    survey="N2",
    tags=("approx",),
)
def n2_lsh_capped_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-bucket skew cap OBSERVED binding — not merely neutral.

    Adversarial corpus, derived deterministically from `documents` on
    both engines: 4 of every 5 docs are replaced by one identical
    boilerplate string, so every band bucket of the boilerplate set
    goes hot (all 8 bands of an identical text share identical keys)
    and exceeds the cap at every test SF (40 docs at sf0.001, 4000 at
    sf0.1 — cap 32).  The capped join then proves BOTH halves of the
    guard's contract at once:

    - the cap ENGAGES: n_dropped_buckets (hot buckets excluded before
      the self-join) is surfaced as a column and hash-checked — the
      pytest pin asserts it is nonzero, so 'cap never seen working'
      can't regress silently;
    - the SAFE SUBSET is untouched: surviving pairs are exactly the
      near-dup pairs among the 1-in-5 clean docs, value-hash-matching
      DuckDB's identically-capped replay.

    At 100 TB this is the degenerate shape that would otherwise send
    one bucket's self-join quadratic (boilerplate-dense crawls); the
    guard turns it into bounded work with explicit, countable loss.
    """
    d = load_table(spark, sf_dir, "documents")
    adv = d.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, F.col("text"))
        .otherwise(F.lit(_SKEW_BOILER))
        .alias("text"),
    )
    buckets = dedup.minhash_band_buckets(adv, "doc_id", "text")
    over = (
        buckets.groupBy("bk")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > _SKEW_CAP)
        .agg(F.count(F.lit(1)).alias("n_dropped_buckets"))
    )
    pairs = dedup.minhash_lsh_pairs(
        adv, "doc_id", "text", band_bucket_cap=_SKEW_CAP
    )
    return pairs.crossJoin(F.broadcast(over))


@register(
    "s_chunk_dedup_stream",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), counted AS (
      SELECT doc_id, tk, len(tk) AS n,
             CASE WHEN len(tk) <= {_CHUNK_W} THEN 1
                  ELSE CAST(CEIL((len(tk) - {_CHUNK_W}) / {_CHUNK_S}.0)
                       AS INT) + 1 END AS n_chunks
      FROM toks WHERE len(tk) > 0
    ), chunks AS (
      SELECT doc_id, CAST(k AS BIGINT) AS chunk_no,
             md5(array_to_string(
                   list_slice(tk, k * {_CHUNK_S} + 1,
                              k * {_CHUNK_S} + {_CHUNK_W}), ' '))
               AS chunk_hash
      FROM (SELECT doc_id, tk, n, UNNEST(range(0, n_chunks)) AS k
            FROM counted)
    ), firsts AS (
      SELECT chunk_hash,
             MIN(doc_id * 4294967296 + chunk_no) AS first_key
      FROM chunks GROUP BY chunk_hash
    )
    SELECT c.doc_id, c.chunk_no,
           (c.doc_id * 4294967296 + c.chunk_no) > f.first_key AS is_dup,
           CASE WHEN (c.doc_id * 4294967296 + c.chunk_no) > f.first_key
                THEN f.first_key // 4294967296 END AS dup_doc_id,
           CASE WHEN (c.doc_id * 4294967296 + c.chunk_no) > f.first_key
                THEN f.first_key % 4294967296 END AS dup_chunk_no
    FROM chunks c JOIN firsts f ON f.chunk_hash = c.chunk_hash
    """,
    survey="N1-S N4 X2 X4",
    tags=("streaming",),
)
def s_chunk_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING chunk-level dedup at ingest — the online gate of the
    RAG-indexing pipeline (its batch composite is
    pipeline_rag_index_end_to_end): each arriving micro-batch of
    documents chunks map-only (the certified n4_chunk_manifest split),
    probes the accumulated chunk-hash index PLUS its own earlier chunks
    (one join keyed on the hash), and appends its own O(batch) segment
    to the append-only index — overwrite-idempotent per batch id, the
    same X4 crash-replay contract as the MinHash/IVF/CMS ingest tier.

    Verdict per chunk: is_dup and the FIRST (doc_id, chunk_no) carrying
    the same content hash, strict-< on the composite key so replayed
    batches that see their own rows in the index converge.  Drained
    verdicts hash-match the one-shot whole-corpus keep-first replay
    (the oracle).  At 100 TB this is what keeps an embedding job from
    re-encoding boilerplate: only never-seen chunk hashes proceed.

    The index is a SegmentStore (streaming/segments.py): every 2
    batches the seg files fold into one keep-first compact (min ckey
    per chunk_hash), so per-batch listing and probe-read stay bounded
    by the fold interval — and by DISTINCT hashes, not stream length —
    over arbitrary uptime.  Batch-slicing invariance post-compaction
    is pinned by tests/test_r8_ops.py."""
    return _chunk_dedup_run(spark, sf_dir)


def _chunk_dedup_run(
    spark: SparkSession, sf_dir: str, chunks: int | None = None
) -> DataFrame:
    """The streaming chunk-dedup core; ``chunks`` controls the replay
    slicing so tests can pin slicing-invariance of the verdicts."""
    import os
    import uuid

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    wd = _work_dir(sf_dir, "s_chunkdedup")
    run = uuid.uuid4().hex[:8]
    seg_dir = os.path.join(wd, f"segs-{run}")
    out_dir = os.path.join(wd, f"out-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    os.makedirs(out_dir, exist_ok=True)
    store = SegmentStore(
        spark, seg_dir, compact_every=2,
        merge=lambda df: df.groupBy("chunk_hash").agg(
            F.min("ckey").alias("ckey")
        ),
    )

    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks if chunks is not None else _CHUNKS,
        order_by=["doc_id"], files_per_trigger=2,
    )
    # 2^32 multiplier: chunk_no derives from an array index, so it is
    # < 2^31 structurally (Spark arrays are int32-indexed) and the
    # composite (doc_id << 32) | chunk_no is collision-free for any
    # doc_id < 2^31 — no aliasing between documents at corpus scale
    key = (F.col("doc_id") * F.lit(4294967296) + F.col("chunk_no")).alias(
        "ckey"
    )

    def chunk_batch(batch) -> DataFrame:
        toks = batch.select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
            ).alias("tk"),
        ).filter(F.size("tk") > 0)
        n = F.size("tk")
        n_chunks = F.when(n <= _CHUNK_W, F.lit(1)).otherwise(
            F.ceil((n - _CHUNK_W) / F.lit(float(_CHUNK_S))).cast("int") + 1
        )
        ex = toks.select(
            "doc_id", "tk",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
        )
        return ex.select(
            "doc_id",
            F.col("k").cast("long").alias("chunk_no"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(F.col("tk"), F.col("k") * _CHUNK_S + 1, _CHUNK_W),
                )
            ).alias("chunk_hash"),
        )

    def fold(batch, bid: int) -> None:
        chunks = chunk_batch(batch).select(
            "doc_id", "chunk_no", "chunk_hash", key
        ).localCheckpoint(eager=True)
        earlier = chunks.select("chunk_hash", F.col("ckey").alias("ekey"))
        hist = store.read()
        if hist is not None:
            earlier = earlier.unionByName(
                hist.select("chunk_hash", F.col("ckey").alias("ekey"))
            )
        hits = (
            chunks.join(earlier, "chunk_hash")
            .filter(F.col("ekey") < F.col("ckey"))
            .groupBy("ckey")
            .agg(F.min("ekey").alias("dup_key"))
        )
        verdicts = chunks.join(hits, "ckey", "left").select(
            "doc_id",
            "chunk_no",
            F.col("dup_key").isNotNull().alias("is_dup"),
            # integer div, not float: exact for arbitrarily large keys
            F.expr("dup_key div 4294967296").alias("dup_doc_id"),
            F.when(
                F.col("dup_key").isNotNull(), F.col("dup_key") % 4294967296
            ).cast("long").alias("dup_chunk_no"),
        )
        verdicts.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"out-{bid:04d}")
        )
        store.append(chunks.select("chunk_hash", "ckey"), bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)
    return spark.read.parquet(os.path.join(out_dir, "out-*")).localCheckpoint(
        eager=True
    )


# --------------------------------------------------------------------------
# N1 — priority dedup: keep the BEST duplicate, not the first
# --------------------------------------------------------------------------
@register(
    "n1_priority_dedup",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, lang, n_chars,
             MD5(substring(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), 1, 100)) AS fp
      FROM documents
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY fp
               ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies
      FROM fp
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rk = 1
    """,
    survey="N1",
)
def n1_priority_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority (keep-BEST) dedup — the C4 rule applied to PREFIX
    duplicates: documents sharing their first 100 normalized chars are
    truncated/extended variants of one page (crawl re-fetches), and the
    keeper is the most COMPLETE one (longest n_chars, doc_id tiebreak),
    not whichever arrived first.  On full-text-fingerprint groups the
    criterion would be vacuous (identical text ⇒ identical length) —
    prefix groups are exactly where keep-best and keep-first genuinely
    diverge (they do, on 9 of this corpus's 19 multi-groups).  One
    fingerprint-keyed window pass — same single-shuffle shape as exact
    dedup (the rank and the copy count ride one exchange); at 100 TB
    the fingerprint is the shuffle key either way, so keep-best costs
    nothing extra over keep-first."""
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.substring(ta.normalize(F.col("text")), 1, 100)).alias("fp")
    w = Window.partitionBy("fp").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", fp)
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id", "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("n_copies").cast("long").alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# N2 — asymmetric containment pairs (the subset-dup Jaccard misses)
# --------------------------------------------------------------------------
@register(
    "n2_containment_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\\s+'),
                         t -> t <> '') AS tk
      FROM documents WHERE doc_id < 200
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(tk) >= 3 THEN
          list_transform(range(0, len(tk) - 2),
                         i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))
        ELSE [array_to_string(tk, ' ')] END) AS shingles
      FROM toks
    ), ex AS (
      SELECT doc_id, UNNEST(shingles) AS s FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), joined AS (
      SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    ), directed AS (
      SELECT id_a AS contained_id, id_b AS container_id,
             CAST(n_inter AS DOUBLE) / sz_a AS containment,
             CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter) AS jaccard
      FROM joined
      UNION ALL
      SELECT id_b, id_a,
             CAST(n_inter AS DOUBLE) / sz_b,
             CAST(n_inter AS DOUBLE) / (sz_a + sz_b - n_inter)
      FROM joined
    )
    SELECT contained_id, container_id,
           ROUND(containment, 9) AS containment,
           ROUND(jaccard, 9) AS jaccard
    FROM directed WHERE containment >= 0.5
    """,
    survey="N2",
)
def n2_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs — |A ∩ B| / |A|, the
    subset-duplicate measure [Broder 1997's "resemblance vs containment"
    distinction]: a 50-shingle doc fully embedded in a 5000-shingle doc
    has Jaccard ~= 0.01 (invisible to every symmetric threshold) but
    containment 1.0 — exactly the quote-inflation / boilerplate-wrapper
    shape a crawl dedup must catch.  Same inverted shingle index, sizes
    and intersection counts as the Jaccard operator (one extra
    projection per direction, no new shuffle); the df-cap rule applies
    unchanged at 100 TB.  Output keeps the Jaccard column beside
    containment so the MISSED-by-Jaccard rows are visible as data."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.ngram_containment_pairs(
        d, "doc_id", "text", n=3, threshold=0.5
    )


@register(
    "s_priority_dedup_stream",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, lang, n_chars,
             MD5(substring(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')), 1, 100)) AS fp
      FROM documents
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY fp
               ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY fp) AS n_copies
      FROM fp
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_copies AS BIGINT) AS n_copies
    FROM ranked WHERE rk = 1
    """,
    survey="N1 X4",
    tags=("streaming",),
)
def s_priority_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING keep-BEST dedup — unlike keep-first (which only ever
    APPENDS a winner), keep-best RETRACTS: a later, longer duplicate
    demotes the incumbent, so the operator is inherently an updating
    table (Flink would emit -U old winner / +U new winner).  Per batch:
    candidates fold to their per-fingerprint best, merge against the
    incumbent mirror (longer n_chars wins, doc_id tiebreak), copy
    counts accumulate additively; the mirror is a per-tick overwrite
    dir read strictly at b-1 (crash-replay bit-identical).  Drained
    winners hash-match the one-shot batch window — slicing-invariant
    because max(n_chars) and SUM(copies) are order-free.  At 100 TB
    state is one row per distinct fingerprint — identical to the
    keep-first footprint; retraction costs nothing extra."""
    return _priority_dedup_run(spark, sf_dir)


def _priority_dedup_run(
    spark: SparkSession, sf_dir: str, chunks: int = 8,
    crash_once_at: int | None = None,
) -> DataFrame:
    import os
    import shutil

    from ..operators import text_analysis as ta
    from ..streaming import replay
    from .streaming_queries import _work_dir

    run = "crash" if crash_once_at is not None else f"clean{chunks}"
    wd = _work_dir(sf_dir, f"s_priodedup_{run}")
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks, files_per_trigger=1,
        order_by=["doc_id"],
    )
    mdir = os.path.join(wd, "mirror")
    schema = "fp string, doc_id long, lang string, n_chars long, n_copies long"
    crash = replay.CrashPlan(crash_once_at)

    def tick(b: int) -> str:
        return os.path.join(mdir, f"tick-{b:05d}")

    def fold(df, batch_id: int) -> None:
        b = int(batch_id)
        prev = (
            spark.read.parquet(tick(b - 1))
            if os.path.isdir(tick(b - 1))
            else spark.createDataFrame([], schema)
        )
        w = Window.partitionBy("fp").orderBy(
            F.col("n_chars").desc(), "doc_id"
        )
        cand = (
            df.select(
                F.md5(F.substring(ta.normalize(F.col("text")), 1, 100)).alias("fp"),
                "doc_id", "lang",
                F.col("n_chars").cast("long").alias("n_chars"),
            )
            .withColumn("rk", F.row_number().over(w))
            .withColumn(
                "n_copies",
                F.count(F.lit(1)).over(Window.partitionBy("fp")),
            )
            .filter(F.col("rk") == 1)
            .drop("rk")
        )
        merged = (
            prev.withColumnRenamed("doc_id", "p_doc")
            .withColumnRenamed("lang", "p_lang")
            .withColumnRenamed("n_chars", "p_chars")
            .withColumnRenamed("n_copies", "p_copies")
            .join(cand, "fp", "full_outer")
            .select(
                "fp",
                # keep-best: longer wins, doc_id tiebreak — the -U/+U
                F.when(
                    F.col("doc_id").isNull(), F.col("p_doc")
                ).when(
                    F.col("p_doc").isNull(), F.col("doc_id")
                ).when(
                    (F.col("n_chars") > F.col("p_chars"))
                    | ((F.col("n_chars") == F.col("p_chars"))
                       & (F.col("doc_id") < F.col("p_doc"))),
                    F.col("doc_id"),
                ).otherwise(F.col("p_doc")).alias("doc_id"),
                F.when(
                    F.col("doc_id").isNull(), F.col("p_lang")
                ).when(
                    F.col("p_doc").isNull(), F.col("lang")
                ).when(
                    (F.col("n_chars") > F.col("p_chars"))
                    | ((F.col("n_chars") == F.col("p_chars"))
                       & (F.col("doc_id") < F.col("p_doc"))),
                    F.col("lang"),
                ).otherwise(F.col("p_lang")).alias("lang"),
                F.greatest(
                    F.coalesce("n_chars", F.lit(-1)),
                    F.coalesce("p_chars", F.lit(-1)),
                ).alias("n_chars"),
                (F.coalesce("n_copies", F.lit(0))
                 + F.coalesce("p_copies", F.lit(0))).alias("n_copies"),
            )
        )
        merged.write.mode("overwrite").parquet(tick(b))
        for name in os.listdir(mdir):
            if name.startswith("tick-"):
                try:
                    bid = int(name.split("-", 1)[1])
                except ValueError:
                    continue
                if bid < b - 1:
                    shutil.rmtree(
                        os.path.join(mdir, name), ignore_errors=True
                    )
        if crash.fire(batch_id):
            raise RuntimeError("injected crash after full batch effects")

    ckpt = os.path.join(wd, "ckpt")
    for d in ("mirror", "ckpt"):
        shutil.rmtree(os.path.join(wd, d), ignore_errors=True)
    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)
    shutil.rmtree(ckpt, ignore_errors=True)
    ticks = sorted(d for d in os.listdir(mdir) if d.startswith("tick-"))
    return spark.read.parquet(os.path.join(mdir, ticks[-1])).select(
        "doc_id", "lang", "n_chars", "n_copies"
    )
