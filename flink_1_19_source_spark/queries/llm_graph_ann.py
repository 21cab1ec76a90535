"""N3 — HNSW-family graph ANN query (operators/graph_ann.py).

The DuckDB oracle replays the ENTIRE deterministic algorithm — layer
hash-assignment, per-layer exact top-M edges, greedy upper-layer
descent, fixed-round ef-beam at layer 0 — as unrolled CTE stages over
the same quantized-integer similarity, so both engines walk the
identical graph and the value hash matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import graph_ann
from ..registry import register
from ..tables import load_table

def _sim_sql(a: str, b: str) -> str:
    """The quantized-int64 similarity scorer as a function of the two
    table aliases — the ONE canonical text every graph-ANN oracle
    embeds, parameterized so no call site has to rewrite alias prefixes
    by string substitution (a substring edit inside the formula would
    silently corrupt a derived oracle)."""
    return (
        f"CAST(list_sum(list_transform(range(1, 65), i -> {a}.qv[i] * {b}.qv[i]))"
        f" AS DOUBLE) / SQRT(CAST({a}.nq AS DOUBLE) * CAST({b}.nq AS DOUBLE))"
    )


_SIM = _sim_sql("q", "n")


def _edge_cte(name: str, min_lvl: int) -> str:
    return f"""{name} AS (
  SELECT src, dst FROM (
    SELECT src, dst, sim,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY sim DESC, dst) AS rn
    FROM (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(list_sum(list_transform(range(1, 65),
                    i -> a.qv[i] * b.qv[i])) AS DOUBLE)
               / SQRT(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS sim
      FROM lv a JOIN lv b
        ON a.lvl >= {min_lvl} AND b.lvl >= {min_lvl}
       AND a.vec_id <> b.vec_id
    )
  ) WHERE rn <= {graph_ann.M_EDGES}
)"""


def _step_cte(name: str, prev: str, edges: str, width: int) -> str:
    return f"""{name} AS (
  SELECT query_id, node FROM (
    SELECT query_id, node, sim,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, node) AS rn
    FROM (
      SELECT cand.query_id, cand.node, {_SIM} AS sim
      FROM (
        SELECT query_id, node FROM {prev}
        UNION
        SELECT c.query_id, e.dst AS node
        FROM {prev} c JOIN {edges} e ON e.src = c.node
      ) cand
      JOIN lv n ON n.vec_id = cand.node
      JOIN qs q USING (query_id)
    )
  ) WHERE rn <= {width}
)"""


def _build_oracle(e0_cte: str | None = None) -> str:
    """The full search-replay oracle.  ``e0_cte`` optionally replaces
    the exact all-pairs layer-0 edge CTE with an alternative edge
    construction (the blocked-build variant) — the layer assignment,
    upper layers, and every search step stay shared verbatim."""
    steps = []
    prev = "c0"
    i = 0
    for lv in (2, 1):
        for _ in range(graph_ann.UPPER_STEPS):
            i += 1
            steps.append(_step_cte(f"s{i}", prev, f"e{lv}", 1))
            prev = f"s{i}"
    for _ in range(graph_ann.K_ROUNDS):
        i += 1
        steps.append(
            _step_cte(f"s{i}", prev, "e0", graph_ann.EF_BEAM)
        )
        prev = f"s{i}"
    body = ",\n".join(steps)
    return f"""
WITH qz AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * {graph_ann.SCALE})
                AS BIGINT)) AS qv
  FROM embeddings
), nz AS (
  SELECT vec_id, qv,
         CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nq
  FROM qz
), lv AS (
  SELECT vec_id, qv, nq,
         CASE WHEN h % 16 = 0 THEN 2
              WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
  FROM (
    SELECT *, CAST(concat('0x',
           substr(md5(CAST(vec_id AS VARCHAR)), 31, 2)) AS INTEGER) AS h
    FROM nz
  )
),
{_edge_cte('e2', 2)},
{_edge_cte('e1', 1)},
{e0_cte if e0_cte is not None else _edge_cte('e0', 0)},
ep AS (
  SELECT vec_id AS node FROM lv ORDER BY lvl DESC, vec_id LIMIT 1
),
qs AS (
  SELECT vec_id AS query_id, qv, nq FROM lv WHERE vec_id < 8
),
c0 AS (SELECT query_id, ep.node FROM qs, ep),
{body}
SELECT query_id, neighbor_id, ROUND(sim, 9) AS sim, rank FROM (
  SELECT query_id, node AS neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, node) AS rank
  FROM (
    SELECT b.query_id, b.node, {_SIM} AS sim
    FROM {prev} b
    JOIN lv n ON n.vec_id = b.node
    JOIN qs q USING (query_id)
    WHERE b.query_id <> b.node
  )
) WHERE rank <= 5
"""


@register(
    "n3_hnsw_topk",
    oracle=_build_oracle(),
    survey="N3",
)
def n3_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph ANN, the HNSW family (operators/graph_ann.py): geometric
    hash-assigned layers, exact top-M proximity edges per layer built by
    the DISTRIBUTED block-pair product (hash-packed sub-matrices, one
    int64 block product per (src blk, dst blk) task, global rank window
    — no driver collect anywhere, pinned in tests/test_r11_ops.py),
    greedy descent + fixed-round ef-beam search as bounded
    frontier-expand joins.  Quantized-integer similarity makes every
    engine's doubles bit-identical (see the operator's numeric
    contract); recall@5 vs the exact cosine baseline is pinned in
    tests/test_r10_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return graph_ann.hnsw_topk(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding", k=5
    )


# --------------------------------------------------------------------------
# N3-S — streaming HNSW graph maintenance at ingest
# --------------------------------------------------------------------------
@register(
    "s_hnsw_ingest_stream",
    oracle=_build_oracle(),
    survey="N3 X2 X4",
    tags=("streaming", "approx"),
)
def s_hnsw_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hnsw_ingest_run(spark, sf_dir)


def _hnsw_ingest_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """STREAMING HNSW maintenance — the graph index kept fresh at
    ingest time (the HNSW twin of s_ivf_ingest_stream): each arriving
    micro-batch of embeddings is hash-assigned its layers, and the
    per-layer top-M edge set is maintained INCREMENTALLY with two
    blocked passes per batch — new-nodes x accumulated-index (the
    insert's own neighbor search) and accumulated-index x new-nodes
    (existing nodes adopting better neighbors), each keeping per-src
    top-M.  This is EXACT, not approximate maintenance: a node's true
    global top-M neighbor v always survives the batch-local top-M of
    the batch v arrived in (fewer than M closer nodes exist globally,
    so fewer exist in any subset), so the union of per-batch candidate
    segments re-ranked at read time IS the one-shot graph — the oracle
    is n3_hnsw_topk's full-replay SQL, hash-matched.  Segments append
    per batch (bid-gated, crash-replay idempotent) and a SegmentStore
    fold every 2 batches re-ranks per (lvl, src) top-M so edge state
    stays bounded by M x nodes, never by stream length.  After the
    drain, the SAME search (graph_ann.search_layers) answers top-5 —
    build paths cannot drift from the one-shot operator.  Both
    per-batch passes run the distributed block-pair build (the
    accumulated index is hash-packed into sub-matrix blocks, never
    collected to the driver), so batch cost is
    O(|new| x |index| / BLOCK^2) independent tasks — the standard
    ANN-ingest shape at any index size."""
    import os
    import shutil
    import uuid

    from pyspark.sql.window import Window

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    m = graph_ann.M_EDGES
    wd = _work_dir(sf_dir, "s_hnsw")
    run = uuid.uuid4().hex[:8]
    node_dir = os.path.join(wd, f"nodes-{run}")
    edge_dir = os.path.join(wd, f"edges-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    def topm(df):
        w = Window.partitionBy("lvl", "src").orderBy(
            F.desc("sim"), "dst"
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= m)
            .drop("rn")
        )

    nodes_store = SegmentStore(spark, node_dir, compact_every=2)
    edges_store = SegmentStore(
        spark, edge_dir, compact_every=2, merge=topm
    )

    sdf = replay.replay_table(
        spark, sf_dir, "embeddings", os.path.join(wd, "src"),
        ts_col="vec_id", chunks=_CHUNKS, order_by=["vec_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        new = graph_ann.with_levels(
            graph_ann.quantized(batch, "vec_id", "embedding")
        ).localCheckpoint(eager=True)
        # count the two checkpointed sides ONCE and derive every block
        # count arithmetically — the per-call _n_blocks count() jobs
        # (4 per batch) were pure per-batch overhead
        n_new = new.count()
        seen = nodes_store.read()
        # `old` stays a LAZY anti-join subtree (r12): the eager
        # localCheckpoint here materialized the ENTIRE accumulated index
        # into block-manager storage every micro-batch — at scale that
        # is an index-sized replication per batch for no plan benefit,
        # since the join's batch side broadcasts and each re-evaluation
        # is a map-only scan of the segment parquet inside the one
        # edges-append job (guide §5: cache only when recompute beats
        # the memory pressure; A/B at fixture scale is a wash).  The
        # count below keeps the crash-replay-safe n_old a MEASURED
        # number, never a derived one — a torn nodes append makes
        # arithmetic tracking wrong exactly when it matters.
        old = (
            seen.join(new.select("vec_id"), "vec_id", "left_anti")
            if seen is not None else None
        )
        n_old = old.count() if old is not None else 0
        # BOTH incremental directions — new x accumulated-index (the
        # insert's neighbor search) and accumulated-index x new
        # (existing nodes adopting better neighbors) — in ONE fused
        # block-pair pass (r13): the old->new sims are the transpose of
        # the new->old half of the grid each pair task already computes,
        # so the former second pass (an index-sized re-pack + crossJoin
        # + kernel job per batch) is free; see
        # graph_ann.cross_topm_layered_bidir for the equivalence proof
        all_flagged = (
            new.withColumn("is_new", F.lit(1)).unionByName(
                old.select(*new.columns).withColumn("is_new", F.lit(0))
            )
            if old is not None
            else new.withColumn("is_new", F.lit(1))
        )
        edge_seg = graph_ann.cross_topm_layered_bidir(
            new, all_flagged, m, n_new=n_new, n_all=n_old + n_new
        )
        edges_store.append(edge_seg, bid)
        if crash.fire(bid):
            # worst spot: the two stores are TORN — edges carry the
            # batch, nodes do not, checkpoint uncommitted
            raise RuntimeError("injected crash between store appends")
        nodes_store.append(new, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    nodes = nodes_store.read().localCheckpoint(eager=True)
    ranked = topm(edges_store.read()).localCheckpoint(eager=True)
    edges = {
        lv: ranked.filter(F.col("lvl") == lv).select("src", "dst", "sim")
        for lv in (2, 1, 0)
    }
    qset = nodes.filter(F.col("vec_id") < 8)
    out = graph_ann.search_layers(nodes, edges, qset, k=5)
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(node_dir, ignore_errors=True)
    shutil.rmtree(edge_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# N3 — HNSW quality evaluation as data (recall-vs-exact report)
# --------------------------------------------------------------------------
@register(
    "n3_hnsw_recall_report",
    oracle=f"""
    WITH hnsw AS ({_build_oracle()}),
    v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), vn AS (
      SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM v
    ), q AS (SELECT * FROM vn WHERE vec_id < 8),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, vn.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.e, vn.e) / (q.nrm * vn.nrm)
                          DESC, vn.vec_id) AS rk
        FROM vn CROSS JOIN q WHERE q.vec_id <> vn.vec_id
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(COUNT(h.neighbor_id) AS BIGINT) AS n_found,
           ROUND(CAST(COUNT(h.neighbor_id) AS DOUBLE) / COUNT(*), 9)
             AS recall
    FROM exact e
    LEFT JOIN hnsw h
      ON h.query_id = e.query_id AND h.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    survey="N3",
)
def n3_hnsw_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW quality evaluation AS DATA — completes the recall-report
    family (LSH, IVF, IVF-PQ): per query, how many of the exact cosine
    top-5 the layered-graph beam search returned.  BOTH sides are
    in-engine and the oracle replays BOTH — the exact float-cosine rank
    and the entire quantized-integer graph walk — so the curve itself
    is value-hash-certified, not just spot-pinned.  This is the report
    a production deployment watches when tuning M/ef against corpus
    drift; at 100 TB the exact side runs on a hash-sampled query slice
    (the house sampling device), the graph side is the serving path."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    got = (
        graph_ann.hnsw_topk(e, q, "vec_id", "embedding", k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_f", F.lit(1))
    )
    return (
        exact.join(got, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_f").alias("n_found"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_found").cast("double") / F.col("n_true"), 9
            ),
        )
    )


# --------------------------------------------------------------------------
# X8/N3 — triangle counting + clustering coefficients on the kNN graph
# --------------------------------------------------------------------------
@register(
    "x8_knn_triangles",
    oracle=f"""
    WITH qz AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * {graph_ann.SCALE})
                    AS BIGINT)) AS qv
      FROM embeddings
    ), nz AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nq
      FROM qz
    ), topk AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                 ORDER BY CAST(list_sum(list_transform(range(1, 65),
                            i -> a.qv[i] * b.qv[i])) AS DOUBLE)
                          / SQRT(CAST(a.nq AS DOUBLE)
                                 * CAST(b.nq AS DOUBLE)) DESC,
                          b.vec_id) AS rk
        FROM nz a JOIN nz b ON a.vec_id <> b.vec_id
      ) WHERE rk <= 5
    ), mutual AS (
      SELECT query_id, neighbor_id FROM topk
      INTERSECT
      SELECT neighbor_id, query_id FROM topk
    ), edges AS (
      SELECT query_id AS a, neighbor_id AS b
      FROM mutual WHERE query_id < neighbor_id
    ), tri AS (
      SELECT x.a, x.b, y.b AS c
      FROM edges x
      JOIN edges y ON y.a = x.b
      JOIN edges z ON z.a = x.a AND z.b = y.b
    ), tnode AS (
      SELECT a AS n FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), tcnt AS (
      SELECT n, COUNT(*) AS t FROM tnode GROUP BY n
    ), deg AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT a AS n FROM edges UNION ALL SELECT b FROM edges
      ) GROUP BY n
    )
    SELECT emb.vec_id,
           CAST(COALESCE(deg.d, 0) AS BIGINT) AS degree,
           CAST(COALESCE(tcnt.t, 0) AS BIGINT) AS triangles,
           CASE WHEN COALESCE(deg.d, 0) >= 2
                THEN ROUND(2.0 * COALESCE(tcnt.t, 0)
                           / (deg.d * (deg.d - 1)), 9)
                ELSE 0.0 END AS lcc
    FROM embeddings emb
    LEFT JOIN deg ON deg.n = emb.vec_id
    LEFT JOIN tcnt ON tcnt.n = emb.vec_id
    """,
    survey="X8 N3",
)
def x8_knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting + local clustering coefficients over the
    MUTUAL-kNN similarity graph — the graph-analytics lens on embedding
    neighborhoods (dense triangles = tight semantic clusters, the
    signal SemDeDup-style cluster dedup and graph-ANN navigability
    both rest on).  Edges = pairs in each other's exact top-5 under the quantized-integer
    similarity (the graph tier's certified numeric contract — the
    distributed block-pair int64 product, no driver collect, NOT a
    4M-row Catalyst array fold; mutualization by set INTERSECT);
    triangles by the canonical-order
    two-hop join a<b<c — each triangle counted exactly once, the
    distributed triangle-counting standard [Suri & Vassilvitskii
    2011] — then per-node counts and lcc = 2T/(d(d-1)).  100 TB shape:
    the kNN edges come from the certified ANN tier instead of the
    brute-force pass (same downstream plan); the cyclic join shuffles
    on the shared vertex each hop and the canonical ordering keeps
    every intermediate bounded by the edge list."""
    e = load_table(spark, sf_dir, "embeddings")
    nodes = graph_ann.quantized(e, "vec_id", "embedding").localCheckpoint(
        eager=True
    )
    topk = graph_ann.cross_topm(nodes, nodes, m=5).select(
        F.col("src").alias("query_id"), F.col("dst").alias("neighbor_id")
    )
    mutual = topk.intersect(
        topk.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
        )
    )
    edges = mutual.filter(F.col("query_id") < F.col("neighbor_id")).select(
        F.col("query_id").alias("a"), F.col("neighbor_id").alias("b")
    ).localCheckpoint(eager=True)
    x, y, z = edges.alias("x"), edges.alias("y"), edges.alias("z")
    tri = (
        x.join(y, F.col("x.b") == F.col("y.a"))
        .join(
            z,
            (F.col("z.a") == F.col("x.a")) & (F.col("z.b") == F.col("y.b")),
        )
        .select(
            F.col("x.a").alias("a"), F.col("x.b").alias("b"),
            F.col("y.b").alias("c"),
        )
    )
    tnode = (
        tri.select(F.col("a").alias("n"))
        .unionAll(tri.select(F.col("b").alias("n")))
        .unionAll(tri.select(F.col("c").alias("n")))
    )
    tcnt = tnode.groupBy("n").agg(F.count(F.lit(1)).alias("t"))
    deg = (
        edges.select(F.col("a").alias("n"))
        .unionAll(edges.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return (
        e.select("vec_id")
        .join(deg, F.col("vec_id") == deg["n"], "left").drop("n")
        .join(tcnt, F.col("vec_id") == tcnt["n"], "left").drop("n")
        .select(
            "vec_id",
            F.coalesce("d", F.lit(0)).cast("long").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.coalesce("d", F.lit(0)) >= 2,
                F.round(
                    2.0 * F.coalesce("t", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1)),
                    9,
                ),
            ).otherwise(F.lit(0.0)).alias("lcc"),
        )
    )


# --------------------------------------------------------------------------
# N3/X8 — sub-quadratic kNN graph via IVF candidate blocking
# --------------------------------------------------------------------------
_NPROBE_BLOCKED = 4

#: Float-cosine IVF assignment over the first-16-vectors fixture
#: codebook (the certified n3_ivf_topk convention) — ONE canonical text
#: shared by every blocked-build oracle so the probe rule cannot drift.
_IVF_ASSIGN_CTES = """fv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
), fvn AS (
  SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM fv
), fcn AS (
  SELECT vec_id AS cid, e AS ce, SQRT(list_dot_product(e, e)) AS cnrm
  FROM fv WHERE vec_id < 16
), ivfassign AS (
  SELECT fvn.vec_id, fcn.cid,
         ROW_NUMBER() OVER (PARTITION BY fvn.vec_id
           ORDER BY list_dot_product(fvn.e, fcn.ce) / (fvn.nrm * fcn.cnrm)
                    DESC, fcn.cid) AS rk
  FROM fvn CROSS JOIN fcn
)"""


def _blocked_scored_sql() -> str:
    """The blocked candidate generation + quantized scoring SELECT —
    probes from ``ivfassign`` (rk <= nprobe), corpus lists (rk = 1),
    quantized vectors from a table named ``lv`` carrying
    (vec_id, qv, nq).  Shared verbatim by the standalone kNN-graph
    oracle and the blocked-HNSW e0 CTE."""
    return f"""SELECT p.src, c.dst, {_sim_sql('a', 'b')} AS sim
      FROM (
        SELECT vec_id AS src, cid AS list_id FROM ivfassign
        WHERE rk <= {_NPROBE_BLOCKED}
      ) p
      JOIN (
        SELECT vec_id AS dst, cid AS list_id FROM ivfassign WHERE rk = 1
      ) c ON p.list_id = c.list_id
      JOIN lv a ON a.vec_id = p.src
      JOIN lv b ON b.vec_id = c.dst
      WHERE p.src <> c.dst"""


def _fixture_codebook(e):
    """The first-16-vectors fixture codebook as a numpy matrix (the
    shared convention of every IVF-family query)."""
    import numpy as np

    rows = (
        e.filter(F.col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()  # codebook-sized collect: K=16 rows
    )
    return np.array([r.embedding for r in rows], dtype=float)


_KNN_BLOCKED_ORACLE = f"""
    WITH {_IVF_ASSIGN_CTES},
    qz AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * {graph_ann.SCALE})
                    AS BIGINT)) AS qv
      FROM embeddings
    ), lv AS (
      SELECT vec_id, qv,
             CAST(list_sum(list_transform(qv, t -> t * t)) AS BIGINT) AS nq
      FROM qz
    ), scored AS (
      -- assignment is float-cosine (the certified IVF convention);
      -- similarity is the graph tier's quantized-int64 contract
      {_blocked_scored_sql()}
    )
    SELECT src, dst, ROUND(sim, 9) AS cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY src
                    ORDER BY sim DESC, dst) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register(
    "n3_knn_graph_blocked",
    oracle=_KNN_BLOCKED_ORACLE,
    survey="N3 X8",
    tags=("approx",),
)
def n3_knn_graph_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-quadratic kNN-GRAPH construction via IVF candidate blocking
    (operators/graph_ann.knn_graph_blocked) — the implemented scale
    path the exact block-pair build (n3_hnsw_topk's layer edges,
    x8_knn_triangles' edges) is the correctness reference for: every
    vector sits in its one nearest coarse list and probes its 4
    nearest lists; candidates are a plain list_id-keyed SHUFFLE join
    (neither side broadcast, no driver collect), per-src exact top-5
    inside.  Work ~ N^2 x nprobe / K; grow the codebook as sqrt(N)
    (the FAISS sizing rule) and the build is O(N^1.5) — this is what
    layer 0 runs at 100 TB, with upper layers (N/16, N/256) staying on
    the exact grid.  Codebook = first 16 corpus vectors (the
    n3_ivf_topk fixture convention) so DuckDB replays assignment,
    probing, and ranking verbatim; recall vs the exact kNN graph is
    pinned in tests/test_r11_ops.py (the synthetic near-uniform
    embeddings are IVF's worst case — no cluster structure to prune
    by; on clustered real corpora the same nprobe/K recovers far
    more, and the pinned number is itself visible as data through the
    recall-report pattern)."""
    e = load_table(spark, sf_dir, "embeddings")
    return graph_ann.knn_graph_blocked(
        e, _fixture_codebook(e), m=5, nprobe=_NPROBE_BLOCKED,
        id_col="vec_id", vec_col="embedding",
    )


# --------------------------------------------------------------------------
# N3 — fully sub-quadratic HNSW: blocked layer 0 + exact upper layers
# --------------------------------------------------------------------------
# e0 shares _blocked_scored_sql verbatim with the standalone oracle
# (lv there carries lvl too — the scorer only reads vec_id/qv/nq).
_BLOCKED_E0 = f"""{_IVF_ASSIGN_CTES},
e0 AS (
  SELECT src, dst FROM (
    SELECT src, dst, sim,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY sim DESC, dst) AS rn
    FROM ({_blocked_scored_sql()})
  ) WHERE rn <= {graph_ann.M_EDGES}
)"""


@register(
    "n3_hnsw_blocked_topk",
    oracle=_build_oracle(e0_cte=_BLOCKED_E0),
    survey="N3",
    tags=("approx",),
)
def n3_hnsw_blocked_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY SUB-QUADRATIC HNSW — the end-to-end composition of the
    round's two builds: layer 0's top-M edges come from the IVF-blocked
    candidate join (knn_graph_blocked — N^2*nprobe/K work, no broadcast
    side, no driver collect), upper layers (1/4, 1/16 of the corpus)
    from ONE exact block-pair layered pass, and the SAME search_layers
    beam walks the result — so nothing in the index build is quadratic
    in the corpus and nothing is driver-resident.  This is the plan the
    100 TB deployment runs, now a certified query rather than a
    docstring claim: the oracle shares every CTE with n3_hnsw_topk's
    full replay except e0, which replays the IVF assignment + blocked
    top-M verbatim (the scorer text itself is shared with the
    standalone kNN-graph oracle).  Recall@5 vs exact cosine is pinned
    in tests/test_r11_ops.py (lower than the exact-graph build by
    construction on the near-uniform fixture — the recall/cost knob is
    nprobe/K, and the recall-report pattern exposes it as data)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nodes = graph_ann.with_levels(
        graph_ann.quantized(emb, "vec_id", "embedding")
    ).localCheckpoint(eager=True)
    qset = graph_ann.quantized(
        emb.filter(F.col("vec_id") < 8), "vec_id", "embedding"
    ).localCheckpoint(eager=True)
    e0 = graph_ann.knn_graph_blocked(
        emb, _fixture_codebook(emb), m=graph_ann.M_EDGES,
        nprobe=_NPROBE_BLOCKED,
    ).select("src", "dst", F.col("cosine_sim").alias("sim"))
    # both upper layers in ONE block-pair pass (the hnsw_topk pattern);
    # the restricted input makes its lv<1 output meaningless — dropped
    upper = nodes.filter(F.col("lvl") >= 1).localCheckpoint(eager=True)
    ranked = graph_ann.cross_topm_layered(upper, upper)
    edges = {
        lv: ranked.filter(F.col("lvl") == lv).select("src", "dst", "sim")
        for lv in (2, 1)
    }
    edges[0] = e0.localCheckpoint(eager=True)
    return graph_ann.search_layers(nodes, edges, qset, k=5)


# --------------------------------------------------------------------------
# N3-S — BLOCKED streaming ingest: IVF-pruned per-batch index maintenance
# --------------------------------------------------------------------------
@register(
    "s_hnsw_blocked_ingest_stream",
    oracle=_build_oracle(e0_cte=_BLOCKED_E0),
    survey="N3 X2 X4",
    tags=("streaming", "approx"),
)
def s_hnsw_blocked_ingest_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _hnsw_blocked_ingest_run(spark, sf_dir)


def _hnsw_blocked_ingest_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    crash_times: int = 1,
) -> DataFrame:
    """BLOCKED streaming ANN ingest — the IVF-pruned twin of
    s_hnsw_ingest_stream, closing the r11 capability gap: that stream
    is exact (every batch runs new x all block-pair work); here layer
    0's per-batch cost is IVF-pruned to |new| x |index| x nprobe / K
    (the knn_graph_blocked economics AT INGEST TIME), which with K ~
    sqrt(N) is the O(N^1.5) at-arrival indexing a 100 TB corpus needs.

    Per batch: arrivals are quantized, level-assigned and coarse-
    assigned ONCE (ivf_assigned_quantized — the stored node row carries
    its corpus list and probe lists, the streaming analogue of list_id
    as the index table's partition key); layer-0 candidate edges come
    from TWO ivf_list_topm list-joins (new-as-src x index-as-dst: the
    insert's own neighbor search; index-as-src x new-as-dst: existing
    nodes adopting better neighbors) — candidates only where dst's one
    corpus list is among src's nprobe probe lists, exactly the one-shot
    blocked relation, so the union of per-batch segments re-ranked per
    src IS knn_graph_blocked's graph (a true blocked-top-M neighbor
    survives the top-M of any subset containing it).  Upper layers
    (1/4, 1/16 of nodes) stay on the exact layered block-pair passes.
    Segments append bid-gated (crash-replay idempotent), a SegmentStore
    fold every 2 batches re-ranks per (lvl, src) top-M so edge state
    stays bounded by M x nodes, and after the drain the SAME
    search_layers beam answers top-5 — the oracle is
    n3_hnsw_blocked_topk's full-replay SQL, hash-matched.  The coarse
    codebook is pretrained and fixed before the stream starts (the
    standard IVF deployment shape) — here the first-16-vectors fixture
    convention shared by every blocked oracle."""
    import os
    import shutil
    import uuid

    from pyspark.sql.window import Window

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    m = graph_ann.M_EDGES
    cent = _fixture_codebook(load_table(spark, sf_dir, "embeddings"))
    wd = _work_dir(sf_dir, "s_hnsw_blk")
    run = uuid.uuid4().hex[:8]
    node_dir = os.path.join(wd, f"nodes-{run}")
    edge_dir = os.path.join(wd, f"edges-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")

    def topm(df):
        w = Window.partitionBy("lvl", "src").orderBy(
            F.desc("sim"), "dst"
        )
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= m)
            .drop("rn")
        )

    nodes_store = SegmentStore(spark, node_dir, compact_every=2)
    edges_store = SegmentStore(
        spark, edge_dir, compact_every=2, merge=topm
    )

    def as_src(nodes):
        return nodes.select(
            "vec_id", "qv", "nq", F.explode("ls_p").alias("list_id")
        )

    def as_dst(nodes):
        return nodes.select(
            "vec_id", "qv", "nq", F.col("list_c").alias("list_id")
        )

    def e0_seg(srcn, dstn):
        return graph_ann.ivf_list_topm(
            as_src(srcn), as_dst(dstn), m
        ).select(
            F.lit(0).alias("lvl"), "src", "dst",
            F.col("cosine_sim").alias("sim"),
        )

    sdf = replay.replay_table(
        spark, sf_dir, "embeddings", os.path.join(wd, "src"),
        ts_col="vec_id", chunks=_CHUNKS, order_by=["vec_id"],
    )
    crash = replay.CrashPlan(crash_once_at, crash_times)

    def fold(batch, bid: int) -> None:
        new = graph_ann.ivf_assigned_quantized(
            batch, cent, _NPROBE_BLOCKED, with_lvl=True
        ).localCheckpoint(eager=True)
        seen = nodes_store.read()
        # lazy anti-join, same reasoning as the exact fold (r12): the
        # former eager checkpoint replicated the accumulated index into
        # block-manager storage every batch; consumers re-evaluate a
        # broadcast-batch-side, map-only scan inside the one
        # edges-append job instead
        old = (
            seen.join(new.select("vec_id"), "vec_id", "left_anti")
            if seen is not None else None
        )
        # layer 0: IVF-pruned candidates, BOTH directions in ONE packed
        # list join (r13, graph_ann.ivf_list_topm_bidir): the forward
        # direction is the batch probing the full set, the reverse is
        # the accumulated index adopting batch arrivals — formerly two
        # ivf_list_topm calls whose second re-packed the index AND the
        # batch every micro-batch.  The reverse src side is additionally
        # semi-join-pruned to lists the batch actually LANDED in (the
        # list_id equi-join discards everything else anyway): per-batch
        # re-pack cost O(|index ∩ touched lists|) instead of
        # O(|index| x nprobe) — at K ~ sqrt(N) a batch touches few
        # lists; at the 16-list fixture it is a near-no-op.
        if old is not None:
            flagged_dst = as_dst(new).withColumn(
                "is_new", F.lit(1)
            ).unionByName(
                as_dst(old).withColumn("is_new", F.lit(0))
            )
            batch_lists = new.select(
                F.col("list_c").alias("list_id")
            ).distinct()
            old_src_pruned = as_src(old).join(
                F.broadcast(batch_lists), "list_id", "left_semi"
            )
            edge_seg = graph_ann.ivf_list_topm_bidir(
                as_src(new), old_src_pruned, flagged_dst, m
            ).select(
                F.lit(0).alias("lvl"), "src", "dst",
                F.col("cosine_sim").alias("sim"),
            )
        else:
            edge_seg = e0_seg(new, new)
        # upper layers: exact layered block-pair work on the sparse
        # lvl >= 1 slice (1/4 + 1/16 of nodes); their lv=0 output is
        # meaningless on the restricted input — dropped.  BOTH
        # directions ride ONE fused pass (r13, see
        # cross_topm_layered_bidir): the former second call re-packed
        # the index's upper slice every batch and re-did its block
        # products; the transpose of the fused grid is free.  Count the
        # two distinct slices once (2 count jobs, as before).
        new_up = new.filter(F.col("lvl") >= 1)
        n_new_up = new_up.count()
        all_up_flagged = (
            new.withColumn("is_new", F.lit(1)).unionByName(
                old.select(*new.columns).withColumn("is_new", F.lit(0))
            )
            if old is not None
            else new.withColumn("is_new", F.lit(1))
        ).filter(F.col("lvl") >= 1)
        n_all_up = all_up_flagged.count()
        upper = graph_ann.cross_topm_layered_bidir(
            new_up, all_up_flagged, m, n_new=n_new_up, n_all=n_all_up
        )
        edge_seg = edge_seg.unionByName(
            upper.filter(F.col("lvl") >= 1)
            .select("lvl", "src", "dst", "sim")
        )
        edges_store.append(edge_seg, bid)
        if crash.fire(bid):
            # worst spot: the two stores are TORN — edges carry the
            # batch, nodes do not, checkpoint uncommitted
            raise RuntimeError("injected crash between store appends")
        nodes_store.append(new, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    nodes = nodes_store.read().localCheckpoint(eager=True)
    ranked = topm(edges_store.read()).localCheckpoint(eager=True)
    edges = {
        lv: ranked.filter(F.col("lvl") == lv).select("src", "dst", "sim")
        for lv in (2, 1, 0)
    }
    qset = nodes.filter(F.col("vec_id") < 8).select("vec_id", "qv", "nq")
    out = graph_ann.search_layers(
        nodes.select("vec_id", "qv", "nq", "lvl"), edges, qset, k=5
    )
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(node_dir, ignore_errors=True)
    shutil.rmtree(edge_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
