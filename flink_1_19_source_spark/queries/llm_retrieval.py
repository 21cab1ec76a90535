"""N3/N4-tier retrieval queries (SURVEY §2.11): streaming IVF index
ingest, binary-quantization Hamming ANN, Okapi BM25, hybrid BM25+dense
reciprocal-rank fusion, and the IVF-PQ composite (FAISS IndexIVFPQ
structure).  Split out of llm3.py (r8).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..registry import register
from ..tables import load_table

from .llm import _IVF_ORACLE


# --------------------------------------------------------------------------
# N3-S — streaming IVF index ingest
# --------------------------------------------------------------------------
@register(
    "s_ivf_ingest_stream",
    oracle=_IVF_ORACLE,
    survey="N3 X2 X4",
    tags=("streaming", "approx"),
)
def s_ivf_ingest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF index maintenance — similarity search kept fresh at
    ingest time: each arriving micro-batch of embeddings is assigned to
    its nearest coarse centroid (the fixed codebook broadcasts with the
    Arrow UDF) and APPENDED to the inverted-file index as an O(batch)
    segment — per-batch overwrite paths make crash replay idempotent,
    and history is never REWRITTEN, only periodically FOLDED: a
    SegmentStore compaction every 2 batches bounds the live file count
    so probe-side listing stays O(1) over arbitrary uptime (at 100 TB
    the list_id is the table's partition key and the fold is per-day
    file consolidation under it).  After the drain,
    the standard probe path (operators/similarity.ivf_probe — the same
    code the one-shot build uses) answers top-5 queries against the
    accumulated index, hash-matching the batch IVF build (the oracle is
    n3_ivf_topk's SQL replay)."""
    import os
    import shutil
    import uuid

    import numpy as np

    from ..operators import similarity
    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.filter(F.col("vec_id") < 16).orderBy("vec_id").select("embedding").collect()
    )
    centroids = np.array([r.embedding for r in cent_rows], dtype=float)
    corpus_assign = similarity._centroid_assign_udf(centroids, 1)

    wd = _work_dir(sf_dir, "s_ivf")
    run = uuid.uuid4().hex[:8]
    state_dir = os.path.join(wd, f"index-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    store = SegmentStore(spark, state_dir, compact_every=2)

    sdf = replay.replay_table(
        spark, sf_dir, "embeddings", os.path.join(wd, "src"),
        ts_col="vec_id", chunks=_CHUNKS, order_by=["vec_id"],
    )

    def fold(batch, bid: int) -> None:
        seg = batch.select(
            F.col("vec_id").alias("neighbor_id"),
            similarity.as_double(F.col("embedding")).alias("nvec"),
        ).withColumn("list_id", F.explode(corpus_assign(F.col("nvec"))))
        store.append(seg, bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt)

    index = store.read()
    q = e.filter(F.col("vec_id") < 8)
    out = similarity.ivf_probe(
        index, q, centroids, k=5, nprobe=3
    ).localCheckpoint(eager=True)
    shutil.rmtree(state_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# N3 — binary-quantization ANN: sign bits + Hamming prefilter + rerank
# --------------------------------------------------------------------------
@register(
    "n3_binary_hamming_topk",
    oracle="""
    WITH v0 AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), w AS (
      SELECT vec_id, e,
             CAST(list_sum(list_transform(range(0, 32),
                  j -> CASE WHEN e[j + 1] > 0
                            THEN CAST(1 AS BIGINT) << j ELSE 0 END))
                  AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(32, 64),
                  j -> CASE WHEN e[j + 1] > 0
                            THEN CAST(1 AS BIGINT) << (j - 32) ELSE 0 END))
                  AS BIGINT) AS w1
      FROM v0
    ), q AS (SELECT * FROM w WHERE vec_id < 8),
    cand AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, w.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.w0, w.w0))
                    + bit_count(xor(q.w1, w.w1)) AS BIGINT) AS hamming,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY bit_count(xor(q.w0, w.w0))
                          + bit_count(xor(q.w1, w.w1)), w.vec_id) AS crank
        FROM w CROSS JOIN q WHERE q.vec_id <> w.vec_id
      ) WHERE crank <= 32
    ), scored AS (
      SELECT c.query_id, c.neighbor_id, c.hamming,
             ROUND(list_dot_product(qe.e, ne.e)
                   / (SQRT(list_dot_product(qe.e, qe.e))
                      * SQRT(list_dot_product(ne.e, ne.e))), 9) AS cosine_sim
      FROM cand c
      JOIN v0 qe ON qe.vec_id = c.query_id
      JOIN v0 ne ON ne.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, hamming, cosine_sim,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey="N3",
)
def n3_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN (the 1-bit tier below int8): embeddings
    sign-binarize into packed words (64x smaller than fp32), the coarse
    pass ranks by Hamming distance — XOR + POPCOUNT, pure
    whole-stage-codegen integer ops — and only the top-32 candidates
    per query are exact-cosine reranked for the final top-5.  The
    standard two-stage retrieval shape: at 100 TB the packed words
    persist as two long columns so the coarse scan skips the 64-float
    array entirely (here they are derived inline — same plan, one extra
    projection), and the rerank join touches queries x 32 embedding
    rows.  Fully oracled: DuckDB packs
    the identical sign bits and replays both stages (coarse tie-break
    by neighbor_id pinned on both engines); recall vs the exact fp32
    path is additionally pinned in tests/test_r7_ops.py."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return similarity.binary_hamming_topk(e, q, dim=64, k=5, rerank=32)


# --------------------------------------------------------------------------
# N4/N3 — BM25 more-like-this retrieval
# --------------------------------------------------------------------------
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_core_sql(k: int) -> str:
    """CTE chain ending in ``lex`` = per-query BM25 top-``k`` with rank —
    shared by n4_bm25_topk (k=5) and the hybrid RRF query (k=20)."""
    from ..functions.exact import sql_dsum

    return f"""ex AS (
      SELECT doc_id,
             UNNEST(list_filter(string_split_regex(LOWER(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents WHERE doc_id < 300
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM ex GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(CAST(dl AS DECIMAL(27,6))) AS DOUBLE) / COUNT(dl)
               AS avgdl
      FROM dl
    ), dfreq AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY 1
    ), qt AS (
      SELECT DISTINCT doc_id AS query_id, tok FROM ex WHERE doc_id < 5
    ), term AS (
      SELECT qt.query_id, tf.doc_id,
             LN((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
             * (tf.tf * {_BM25_K1 + 1}) /
               (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                      + {_BM25_B} * dl.dl / stats.avgdl))
               AS s
      FROM qt
      JOIN tf ON tf.tok = qt.tok AND tf.doc_id <> qt.query_id
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN dfreq ON dfreq.tok = qt.tok
      CROSS JOIN stats
    ), agg AS (
      SELECT query_id, doc_id, ROUND({sql_dsum('s')}, 6) AS score
      FROM term GROUP BY 1, 2
    ), lex AS (
      SELECT query_id, doc_id, score, rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY score DESC, doc_id) AS rank
        FROM agg
      ) WHERE rank <= {k}
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_core_sql(5)}
    SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank
    FROM lex
    """


@register(
    "n4_bm25_topk",
    oracle=_bm25_oracle(),
    survey="N4 N3",
)
def n4_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 more-like-this retrieval (k1=1.2, b=0.75, Lucene's
    always-positive idf): each of 5 query documents retrieves its top-5
    BM25 neighbors — the lexical-retrieval counterpart of the N3 dense
    tiers, and the standard pre-filter stage of a hybrid (BM25 + dense)
    training-data retrieval pipeline.

    Scale shape: tf stays partitioned by document; df, document-length
    and corpus stats are the ONLY broadcasts (df table is vocabulary-
    sized); the per-term scores aggregate through an exact DECIMAL sum
    so the floating result is independent of Spark's partial-agg
    ordering and equals DuckDB's replay bit-for-bit."""
    return _bm25_spark(spark, sf_dir, k=5)


def _bm25_spark(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    from ..functions.exact import dsum
    from ..operators import text_analysis as ta

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    ex = d.select("doc_id", F.explode(ta.tokens(F.col("text"))).alias("tok"))
    tf = ex.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dl = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    from ..functions.exact import davg

    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        davg(F.col("dl")).alias("avgdl"),
    )
    dfreq = ex.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    qt = ex.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("query_id"), "tok"
    ).distinct()
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    s = idf * (F.col("tf") * F.lit(_BM25_K1 + 1)) / (
        F.col("tf")
        + F.lit(_BM25_K1)
        * (1 - _BM25_B + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
    )
    term = (
        F.broadcast(qt)
        .join(tf, (tf.tok == qt.tok) & (tf.doc_id != qt.query_id))
        .drop(qt.tok)
        .join(dl, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", s.alias("s"))
    )
    agg = term.groupBy("query_id", "doc_id").agg(
        F.round(dsum(F.col("s")), 6).alias("score")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), "doc_id")
    return agg.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= k
    )


# --------------------------------------------------------------------------
# N3/N4 — hybrid retrieval: BM25 + dense cosine, reciprocal-rank fusion
# --------------------------------------------------------------------------
_RRF_K = 60


def _hybrid_rrf_oracle() -> str:
    return f"""
    WITH {_bm25_core_sql(20)},
    dv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 300
    ), dq AS (SELECT * FROM dv WHERE vec_id < 5),
    den AS (
      SELECT query_id, doc_id, rnk FROM (
        SELECT dq.vec_id AS query_id, dv.vec_id AS doc_id,
               ROW_NUMBER() OVER (PARTITION BY dq.vec_id
                 ORDER BY list_dot_product(dq.e, dv.e)
                          / (SQRT(list_dot_product(dq.e, dq.e))
                             * SQRT(list_dot_product(dv.e, dv.e))) DESC,
                          dv.vec_id) AS rnk
        FROM dv CROSS JOIN dq WHERE dq.vec_id <> dv.vec_id
      ) WHERE rnk <= 20
    ), fused AS (
      SELECT COALESCE(l.query_id, d.query_id) AS query_id,
             COALESCE(l.doc_id, d.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.rank), 0)
                   + COALESCE(1.0 / ({_RRF_K} + d.rnk), 0), 9) AS rrf_score
      FROM lex l FULL OUTER JOIN den d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_score, CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 5
    """


@register(
    "n3_hybrid_rrf_topk",
    oracle=_hybrid_rrf_oracle(),
    survey="N3 N4",
)
def n3_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — BM25 lexical top-20 and dense-cosine top-20
    fused by reciprocal-rank fusion (RRF, k=60): score(d) = sum over
    retrievers of 1/(60 + rank_r(d)).  The standard production shape
    for training-data retrieval and RAG candidate generation: both
    stages are the independently certified operators (the BM25 core and
    the brute-force cosine baseline over the id-aligned embeddings
    table), and RRF is pure rank arithmetic — no score calibration
    across modalities, deterministic on both engines.  The fusion join
    is top-20 x queries rows (tiny); each retriever keeps its own scale
    shape."""
    from ..operators import similarity

    lex = _bm25_spark(spark, sf_dir, k=20).select(
        "query_id", "doc_id", F.col("rank").alias("lrank")
    )
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    q = e.filter(F.col("vec_id") < 5)
    den = similarity.cosine_topk(e, q, k=20).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("drank"),
    )
    fused = (
        lex.join(den, ["query_id", "doc_id"], "full_outer")
        .select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("lrank")), F.lit(0.0))
                + F.coalesce(
                    1.0 / (F.lit(_RRF_K) + F.col("drank")), F.lit(0.0)
                ),
                9,
            ).alias("rrf_score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), "doc_id"
    )
    return fused.withColumn("rank", F.row_number().over(w).cast("int")).filter(
        F.col("rank") <= 5
    )


# --------------------------------------------------------------------------
# N3 — IVF-PQ composite: coarse lists + residual PQ + ADC (FAISS IndexIVFPQ)
# --------------------------------------------------------------------------
_IVFPQ_ORACLE = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), vn AS (
      SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM v
    ), u AS (
      SELECT vec_id, list_transform(e, x -> x / nrm) AS e FROM vn
    ), un AS (
      SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM u
    ), cn AS (
      SELECT vec_id AS cid, e AS ce, nrm AS cnrm FROM un WHERE vec_id < 8
    ), assign AS (
      SELECT un.vec_id, un.e, cn.cid, cn.ce,
             ROW_NUMBER() OVER (PARTITION BY un.vec_id
               ORDER BY list_dot_product(un.e, cn.ce) / (un.nrm * cn.cnrm)
                        DESC, cn.cid) AS rk
      FROM un CROSS JOIN cn
    ), corpus_r AS (
      SELECT vec_id AS vid, cid AS list_id,
             list_transform(range(1, 65), j -> e[j] - ce[j]) AS r
      FROM assign WHERE rk = 1
    ), ms AS (SELECT UNNEST(range(0, 4)) AS m),
    cb AS (
      SELECT ms.m, c.vid AS cb_k,
             list_slice(c.r, ms.m*16 + 1, ms.m*16 + 16) AS cw
      FROM corpus_r c, ms WHERE c.vid < 8
    ), sub AS (
      SELECT c.vid, c.list_id, ms.m,
             list_slice(c.r, ms.m*16 + 1, ms.m*16 + 16) AS sv
      FROM corpus_r c, ms
    ), dist AS (
      SELECT s.vid, s.list_id, s.m, cb.cb_k,
             list_sum(list_transform(range(1, 17),
                      j -> (s.sv[j] - cb.cw[j]) * (s.sv[j] - cb.cw[j])))
               AS d2
      FROM sub s JOIN cb ON s.m = cb.m
    ), codes AS (
      SELECT vid AS neighbor_id, list_id, m, cb_k AS code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vid, m
                                     ORDER BY d2, cb_k) AS rn
        FROM dist
      ) WHERE rn = 1
    ), q_r AS (
      SELECT vec_id AS query_id, cid AS list_id,
             list_transform(range(1, 65), j -> e[j] - ce[j]) AS r
      FROM assign WHERE vec_id < 8 AND rk <= 3
    ), qsub AS (
      SELECT q.query_id, q.list_id, ms.m,
             list_slice(q.r, ms.m*16 + 1, ms.m*16 + 16) AS sv
      FROM q_r q, ms
    ), lut AS (
      SELECT q.query_id, q.list_id, q.m, cb.cb_k AS code,
             list_sum(list_transform(range(1, 17),
                      j -> (q.sv[j] - cb.cw[j]) * (q.sv[j] - cb.cw[j])))
               AS d2
      FROM qsub q JOIN cb ON q.m = cb.m
    ), score AS (
      SELECT l.query_id, c.neighbor_id,
             CAST(SUM(CAST(ROUND(l.d2, 6) AS DECIMAL(27,6))) AS DOUBLE)
               AS ad
      FROM codes c
      JOIN lut l ON l.list_id = c.list_id AND l.m = c.m AND l.code = c.code
      WHERE l.query_id <> c.neighbor_id
      GROUP BY 1, 2
    ), cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY ad, neighbor_id) AS crank
        FROM score
      ) WHERE crank <= 64
    ), rr AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 9)
               AS cosine_sim
      FROM cand
      JOIN vn a ON a.vec_id = cand.query_id
      JOIN vn b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER)
                  AS rank
      FROM rr
    ) WHERE rank <= 5
    """


@register(
    "n3_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    survey="N3",
    tags=("approx",),
)
def n3_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (operators/similarity.ivfpq_topk) — the
    FAISS-IndexIVFPQ structure the r7 N3 tier still lacked: the corpus
    is unit-normalized (PQ's L2 surrogate then ranks cosine, the metric
    the exact path uses), bucketed into 8 coarse inverted lists
    (first-8-vectors codebook, like the other N3 oracles), and PQ
    encodes the RESIDUAL v̂ - ĉ(list) into 4 one-byte codes against an
    8-codeword residual codebook; per-(query, probed-list) ADC lookup
    tables fold through DECIMAL(27,6) so the subspace sum is
    order-exact on both engines; the top-64 ADC candidates fetch their
    full vectors for the exact round-9 cosine rerank (the FAISS refine
    step).  Queries probe their 3 nearest lists; candidates surface
    only through the list-aligned code join.  DuckDB replays the entire
    chain — normalize, coarse assign, residuals, codebook, encode
    argmin, LUT, fold, candidate cut, rerank — in one statement.
    Recall vs the exact path is pinned in tests/test_r8_ops.py.  At
    100 TB: list_id is the partition key (probing = partition pruning),
    codes are 4 bytes/vector plus fp rows only the rerank touches, both
    codebooks broadcast; ADC scoring shuffles code rows, never
    embeddings."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return similarity.ivfpq_topk(e, q, dim=64, k=5)


# --------------------------------------------------------------------------
# N3 — FILTERED ANN: metadata predicate pushed into the IVF probe
# --------------------------------------------------------------------------
@register(
    "n3_filtered_ivf_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), vn AS (
      SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM v
    ), cn AS (
      SELECT vec_id AS cid, e AS ce, SQRT(list_dot_product(e, e)) AS cnrm
      FROM v WHERE vec_id < 16
    ), assign AS (
      SELECT vn.vec_id, cn.cid,
             ROW_NUMBER() OVER (PARTITION BY vn.vec_id
               ORDER BY list_dot_product(vn.e, cn.ce) / (vn.nrm * cn.cnrm)
                        DESC, cn.cid) AS rk
      FROM vn CROSS JOIN cn
    ), corpus_list AS (
      SELECT a.vec_id AS neighbor_id, a.cid AS list_id
      FROM assign a JOIN documents d
        ON d.doc_id = a.vec_id AND d.lang = 'en'
      WHERE a.rk = 1
    ), q_list AS (
      SELECT vec_id AS query_id, cid AS list_id
      FROM assign WHERE vec_id < 8 AND rk <= 3
    ), cand AS (
      SELECT DISTINCT q.query_id, c.neighbor_id
      FROM q_list q JOIN corpus_list c ON q.list_id = c.list_id
      WHERE q.query_id <> c.neighbor_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             ROUND(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 9)
               AS cosine_sim
      FROM cand
      JOIN vn a ON a.vec_id = cand.query_id
      JOIN vn b ON b.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine_sim DESC, neighbor_id) AS INTEGER)
                  AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey="N3",
    tags=("approx",),
)
def n3_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN — the retrieval shape RAG stacks actually run
    ("nearest English documents", "nearest docs from source X"): a
    metadata predicate composes with the IVF index instead of
    post-filtering the top-k (which silently returns < k when the
    filter is selective).  The lang = 'en' predicate joins the index
    side BEFORE candidate generation, so at 100 TB BOTH prunings
    compose at the scan: partition pruning on list_id (nprobe/K of the
    data) AND the parquet predicate on the metadata column — the
    "pre-filtered search" mode of FAISS/IVF-based stores.  Queries are
    unrestricted; ranks re-pack among the filtered candidates (an
    en-doc ranked 7th unfiltered can be 1st here).  Oracle replays
    codebook build, filtered assignment, probe and rerank."""
    import numpy as np

    from ..operators import similarity
    from ..tables import load_table as _lt

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    cent_rows = (
        e.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = np.array([r.embedding for r in cent_rows], dtype=float)
    en = (
        _lt(spark, sf_dir, "documents")
        .filter(F.col("lang") == "en")
        .select(F.col("doc_id").alias("vec_id"))
    )
    filtered = e.join(en, "vec_id")
    return similarity.ivf_topk(filtered, q, centroids, k=5, nprobe=3)


@register(
    "n3_ivfpq_recall_report",
    oracle=f"""
    WITH approx AS (
      SELECT query_id, neighbor_id FROM ({_IVFPQ_ORACLE}) t
    ), v2 AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), vn2 AS (
      SELECT vec_id, e, SQRT(list_dot_product(e, e)) AS nrm FROM v2
    ), q2 AS (SELECT * FROM vn2 WHERE vec_id < 8),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q2.vec_id AS query_id, vn2.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q2.vec_id
                 ORDER BY list_dot_product(q2.e, vn2.e) / (q2.nrm * vn2.nrm)
                          DESC, vn2.vec_id) AS rk
        FROM vn2 CROSS JOIN q2 WHERE q2.vec_id <> vn2.vec_id
      ) WHERE rk <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_recovered,
           ROUND(CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*), 9)
             AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """,
    survey="N3",
)
def n3_ivfpq_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ quality evaluation AS DATA (completing the recall-report
    family for the composite index): per query, how many of the exact
    cosine top-5 survive the full coarse-list -> PQ-residual-ADC ->
    rerank pipeline into the FINAL top-5 — the recall@k the index's
    nprobe/M/nbits get tuned against.  Both the exact and approximate
    sides run in-engine and the whole report is value-hash-oracled
    (the oracle nests the certified IVF-PQ replay as a derived table)."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(e, q, k=5).select(
        "query_id", "neighbor_id"
    )
    approx = (
        similarity.ivfpq_topk(e, q, dim=64, k=5)
        .select("query_id", "neighbor_id")
        .withColumn("_f", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_f").alias("n_recovered"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_recovered").cast("double") / F.col("n_exact"), 9
            ),
        )
    )


# --------------------------------------------------------------------------
# N3 — ColBERT-style late-interaction retrieval (MaxSim)
# --------------------------------------------------------------------------
@register(
    "n3_maxsim_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), nn AS (SELECT COUNT(*) AS n FROM v),
    dtok AS (
      SELECT d.vec_id AS doc_id, t.t AS tok_no, src.e
      FROM v d, (SELECT UNNEST([0, 1, 2]) AS t) t, nn
      JOIN v src ON src.vec_id = (d.vec_id + t.t * 31) % nn.n
    ), qtok AS (
      SELECT q.vec_id AS query_id, t.t AS tok_no, src.e
      FROM (SELECT vec_id FROM v WHERE vec_id < 6) q,
           (SELECT UNNEST([0, 1, 2]) AS t) t, nn
      JOIN v src ON src.vec_id = (q.vec_id + t.t * 17) % nn.n
    ), dots AS (
      SELECT q.query_id, d.doc_id, q.tok_no AS q_tok,
             list_dot_product(q.e, d.e) AS dot
      FROM qtok q CROSS JOIN dtok d
      WHERE q.query_id <> d.doc_id
    ), best AS (
      SELECT query_id, doc_id, q_tok, MAX(dot) AS m
      FROM dots GROUP BY 1, 2, 3
    ), scored AS (
      -- decimal sum: order-independent (the functions/exact contract),
      -- so the 3-term fold cannot drift between engines' merge orders
      SELECT query_id, doc_id,
             ROUND(CAST(SUM(CAST(m AS DECIMAL(27,6))) AS DOUBLE), 6)
               AS maxsim
      FROM best GROUP BY 1, 2
    )
    SELECT query_id, doc_id, maxsim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY maxsim DESC, doc_id) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    survey="N3",
)
def n3_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATE-INTERACTION retrieval (Khattab & Zaharia 2020, ColBERT):
    documents and queries carry MULTIPLE vectors (one per token) and
    score as MaxSim — for each query token, the best dot product over
    the document's tokens, summed over query tokens — the family
    between single-vector ANN (n3_cosine_topk) and full cross-encoders.

    Multi-vector corpora aren't in the fixture tables, so token vectors
    are derived relationally: token t of doc d is the embedding at
    (d + 31 t) mod N — a pure join both engines replay (queries use a
    17-stride so their token sets differ from the identically-numbered
    doc's).  Scale shape: the query token matrix is tiny and BROADCAST;
    the doc-token side streams through one zip_with/aggregate dot in
    codegen; MAX-per-(query, doc, token) and SUM-per-(query, doc) are
    one partial-aggregating shuffle each; top-5 is a bounded
    WindowGroupLimit.  At 100 TB the dots are pruned by the same IVF
    coarse lists as n3_ivf_topk (probe the query token's lists only) —
    this query is the exact baseline that recall reports measure
    against, like brute cosine is for single-vector ANN."""
    from ..operators.similarity import _dot, as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("e")
    )
    n = e.count()  # table cardinality: one scalar, drives the modulo
    toks = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("tok_no")

    def token_side(base: DataFrame, id_col: str, stride: int) -> DataFrame:
        idx = (F.col(id_col) + F.col("tok_no") * stride) % n
        return (
            base.select(F.col("vec_id").alias(id_col), toks)
            .withColumn("src_id", idx)
            .join(
                e.select(
                    F.col("vec_id").alias("src_id"), F.col("e")
                ),
                "src_id",
            )
            .select(id_col, "tok_no", "e")
        )

    dtok = token_side(e, "doc_id", 31)
    qtok = token_side(e.filter(F.col("vec_id") < 6), "query_id", 17)
    dots = (
        F.broadcast(
            qtok.select(
                "query_id",
                F.col("tok_no").alias("q_tok"),
                F.col("e").alias("qe"),
            )
        )
        .crossJoin(dtok.select("doc_id", F.col("e").alias("de")))
        .filter(F.col("query_id") != F.col("doc_id"))
        .select(
            "query_id", "doc_id", "q_tok",
            _dot(F.col("qe"), F.col("de")).alias("dot"),
        )
    )
    best = dots.groupBy("query_id", "doc_id", "q_tok").agg(
        F.max("dot").alias("m")
    )
    from ..functions.exact import dsum

    scored = best.groupBy("query_id", "doc_id").agg(
        F.round(dsum(F.col("m")), 6).alias("maxsim")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), "doc_id"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
    )


# --------------------------------------------------------------------------
# N3 — Matryoshka (truncated-dimension) two-stage ANN
# --------------------------------------------------------------------------
@register(
    "n3_matryoshka_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 8
    ), coarse AS (
      SELECT q.query_id, v.vec_id AS neighbor_id, q.qe, v.e,
             ROUND(
               list_sum(list_transform(range(1, 33), i -> qe[i] * e[i]))
               / (sqrt(list_sum(list_transform(range(1, 33),
                                               i -> qe[i] * qe[i])))
                  * sqrt(list_sum(list_transform(range(1, 33),
                                                 i -> e[i] * e[i])))),
               9) AS coarse_sim
      FROM v, q WHERE v.vec_id <> q.query_id
    ), cand AS (
      SELECT query_id, neighbor_id, qe, e FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY coarse_sim DESC, neighbor_id) AS crn
        FROM coarse
      ) WHERE crn <= 96
    ), ex AS (
      SELECT query_id, neighbor_id,
             ROUND(
               list_sum(list_transform(range(1, 65), i -> qe[i] * e[i]))
               / (sqrt(list_sum(list_transform(range(1, 65),
                                               i -> qe[i] * qe[i])))
                  * sqrt(list_sum(list_transform(range(1, 65),
                                                 i -> e[i] * e[i])))),
               9) AS cosine_sim
      FROM cand
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id) AS rank
      FROM ex
    ) WHERE rank <= 5
    """,
    survey="N3",
    tags=("approx",),
)
def n3_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension ANN [Kusupati et al. 2022 —
    MRL]: coarse-rank every candidate by the cosine of the FIRST 32 of
    64 components (a 2x cheaper fold), keep the top-96 per query,
    exact-cosine rerank over all 64 dims for the final top-5.  Distinct
    scale path from int8/binary quantization: the coarse representation
    is a PREFIX of the stored column, so a columnar layout persists it
    as its own tiny column and the coarse scan never reads the full
    array.  HONEST fixture note: this corpus's embeddings are not
    MRL-trained — the prefix is an arbitrary half, so the knob sits at
    32/96 for recall@5 >= 0.85 (pinned in tests/test_r9_ops.py);
    MRL-trained vectors run d_coarse=8 at the same recall, an 8x
    coarse-pass saving.  Both stages replayed relationally by the
    oracle, tie-breaks pinned (operators/similarity.matryoshka_topk)."""
    from ..operators import similarity

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8)
    return similarity.matryoshka_topk(e, q, dim=64, d_coarse=32, k=5, rerank=96)
