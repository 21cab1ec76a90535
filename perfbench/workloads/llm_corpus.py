"""llm_corpus: the LLM data path -- corpus deduplication, plus vector index
build and search in traced runs.

A pass runs, on a seeded multilingual corpus with a controlled
near-duplicate rate and injected PII:

1. ``corpus.pii_redact``
2. the ``text_analysis`` quality gate (``quality_stats`` thresholds)
3. ``dedup.minhash_lsh_pairs`` (MinHash signatures, banded LSH self-join)
4. ``dedup.connected_components``
5. survivors written as parquet

Arrow/pandas-UDF kernels, a band self-join shuffle and iterative rounds;
the duplicate rate sets how much work the inputs share. A traced pass
adds, as a probe outside the pass time, the vector side on seeded
clustered 64-d embeddings: the index build ``graph_ann.knn_graph_blocked``
(write side) and ``similarity.ivf_topk`` for a held-out query set (read
side), the BLAS-in-Arrow kernels. This folds the two LLM-pipeline
workloads (dedup, vector search) into one, with the vector side out of
the untraced pass, so that every run fits the benchmark's time budget;
see METRICS.md.

Checks: the survivor set is identical across passes and enough injected
pairs end up in one component (``dup_pair_recall``); in traced passes,
every vector gets its graph edges and ``recall_at_10`` against numpy's
exact top-10 meets a floor.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from .. import gen, stats
from . import BatchWorkload

#: floor on the share of injected near-duplicate pairs found (32 hashes in
#: 8 bands find a pair with one or two substituted words ~98% of the time)
DUP_RECALL_FLOOR = 0.9
MIN_TOKENS = 12
MAX_PUNCT = 0.05
K = 10
NPROBE = 4
LISTS = 32
KNN_RECALL_FLOOR = 0.8
#: a vector whose probed lists hold fewer than M others gets fewer edges
EDGE_FLOOR = 0.99


def train_centroids(x: np.ndarray, k: int, seed: int, rounds: int = 4) -> np.ndarray:
    """Spherical k-means (Lloyd) from k seeded starting vectors."""
    r = gen.rng_for(seed, "centroids")
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    c = xn[r.choice(len(xn), k, replace=False)].copy()
    for _ in range(rounds):
        assign = np.argmax(xn @ c.T, axis=1)
        for j in range(k):
            members = xn[assign == j]
            if len(members):
                m = members.sum(axis=0)
                c[j] = m / np.linalg.norm(m)
    return c.astype(np.float64)


def exact_topk(x: np.ndarray, q: np.ndarray, k: int) -> np.ndarray:
    """Row indices of the k most cosine-similar corpus vectors per query."""
    xn = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float64)
    qn = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float64)
    return np.vstack([
        np.argsort(-(qn[i:i + 256] @ xn.T), axis=1, kind="stable")[:, :k]
        for i in range(0, len(qn), 256)
    ])


def read_vectors(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    x = np.asarray(t.column("embedding").combine_chunks().flatten(), dtype=np.float32)
    return t.column("vec_id").to_numpy(), x.reshape(t.num_rows, gen.DIM)


class LlmCorpus(BatchWorkload):
    name = "llm_corpus"
    SIZES = {
        "full": {"docs": 1_000, "vectors": 2_000, "queries": 100},
        "tiny": {"docs": 400, "vectors": 1_000, "queries": 50},
    }
    LAYERS = {
        "operators.corpus.pii_redact.s": "s",
        "operators.text_analysis.quality_gate.s": "s",
        "operators.text_analysis.quality_gate.keep_ratio": "ratio",
        "operators.dedup.minhash_signatures.s": "s",
        "operators.dedup.minhash_signatures.executor_cpu_s": "s",
        "operators.dedup.minhash_lsh_pairs.s": "s",
        "operators.dedup.minhash_lsh_pairs.candidate_pairs": "count",
        "operators.dedup.minhash_lsh_pairs.shuffle_write_mb": "MB",
        "operators.dedup.minhash_lsh_pairs.pair_precision": "ratio",
        "operators.dedup.connected_components.s": "s",
        "operators.dedup.connected_components.jobs": "count",
        "io.write_parquet.s": "s",
        "operators.graph_ann.knn_graph_blocked.s": "s",
        "operators.graph_ann.knn_graph_blocked.shuffle_write_mb": "MB",
        "operators.graph_ann.knn_graph_blocked.edges_out": "count",
        "operators.similarity.ivf_topk.s": "s",
        "operators.similarity.ivf_topk.executor_cpu_s": "s",
    }

    def __init__(self, ctx):
        super().__init__(ctx)
        self.survivor_hash: str | None = None
        self.dup_recall: list[float] = []
        self.knn_recall: list[float] = []
        self.build_s: list[float] = []
        self.search_s: list[float] = []

    def generate(self, out_dir: str) -> gen.Inputs:
        s, seed = self.size, self.ctx.seed
        docs = gen.gen_corpus(out_dir, seed, s["docs"])
        vecs = gen.gen_vectors(out_dir, seed, s["vectors"], s["queries"])
        # the IVF codebook is index training, part of set-up
        self.centroids = train_centroids(
            read_vectors(os.path.join(out_dir, "embeddings.parquet"))[1], LISTS, seed)
        return gen.Inputs(out_dir, {**docs.rows, **vecs.rows}, docs.truth)

    def build_checks(self, inputs: gen.Inputs) -> None:
        self.pairs = inputs.truth["pairs"]
        self.pair_set = {tuple(p) for p in self.pairs}
        ids, x = read_vectors(os.path.join(inputs.dir, "embeddings.parquet"))
        qids, q = read_vectors(os.path.join(inputs.dir, "queries.parquet"))
        self.exact = {int(qid): set(ids[row].tolist()) for qid, row in zip(qids, exact_topk(x, q, K))}

    def run_pass(self, tr) -> dict | None:
        layers: dict = {}
        ok = self._dedup(tr, layers)
        if tr.enabled:
            t = time.perf_counter()
            ok = self._vectors(tr, layers) and ok
            layers["_probe_s"] += time.perf_counter() - t
        return layers if ok else None

    # -- corpus deduplication ----------------------------------------------

    def _dedup(self, tr, layers: dict) -> bool:
        from pyspark.sql import functions as F

        from flink_1_19_source_spark.operators import dedup
        from flink_1_19_source_spark.operators.corpus import pii_redact
        from flink_1_19_source_spark.operators.text_analysis import quality_stats
        from flink_1_19_source_spark.tables import load_table

        traced = tr.enabled
        out_dir = self.ctx.path("survivors")
        shutil.rmtree(out_dir, ignore_errors=True)
        docs = load_table(self.spark, self.inputs.dir, "documents")
        with tr.span("operators.corpus.pii_redact") as sp:
            red = docs.select("doc_id", "lang", pii_redact(F.col("text")).alias("text"))
            if traced:
                red = red.localCheckpoint(eager=True)
        with tr.span("operators.text_analysis.quality_gate") as sg:
            q = quality_stats(F.col("text"))
            gated = red.filter((q["n_tokens"] >= MIN_TOKENS) & (q["punct_ratio"] <= MAX_PUNCT))
            if traced:
                gated = gated.localCheckpoint(eager=True)
        if traced:
            layers["operators.corpus.pii_redact.s"] = sp.seconds
            layers["operators.text_analysis.quality_gate.s"] = sg.seconds
            layers["operators.text_analysis.quality_gate.keep_ratio"] = gated.count() / red.count()
            # probe: the signature kernel alone (minhash_lsh_pairs computes
            # its own signatures inside); not part of the pass time
            with tr.span("operators.dedup.minhash_signatures") as sp:
                dedup.minhash_signatures(gated, "doc_id", "text").write.format("noop").mode("overwrite").save()
            layers["operators.dedup.minhash_signatures.s"] = sp.seconds
            layers["operators.dedup.minhash_signatures.executor_cpu_s"] = sp.counters["executor_cpu_s"]
            layers["_probe_s"] = sp.seconds
        with tr.span("operators.dedup.minhash_lsh_pairs") as sp:
            pairs = dedup.minhash_lsh_pairs(gated, "doc_id", "text")
            if traced:
                pairs = pairs.localCheckpoint(eager=True)
        if traced:
            cand = pairs.select("id_a", "id_b").toPandas()
            true_pos = sum((a, b) in self.pair_set for a, b in cand.itertuples(index=False))
            layers.update({
                "operators.dedup.minhash_lsh_pairs.s": sp.seconds,
                "operators.dedup.minhash_lsh_pairs.candidate_pairs": len(cand),
                "operators.dedup.minhash_lsh_pairs.shuffle_write_mb": sp.counters["shuffle_write_mb"],
                "operators.dedup.minhash_lsh_pairs.pair_precision": true_pos / max(len(cand), 1),
            })
        with tr.span("operators.dedup.connected_components") as sp:
            labels = dedup.connected_components(pairs)
        if traced:
            layers["operators.dedup.connected_components.s"] = sp.seconds
            layers["operators.dedup.connected_components.jobs"] = sp.counters["jobs"]
        dropped = labels.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
        with tr.span("io.write_parquet") as sp:
            gated.join(dropped, "doc_id", "left_anti").write.mode("overwrite").parquet(out_dir)
        if traced:
            layers["io.write_parquet.s"] = sp.seconds
        if not self.checking:
            return True
        comp = dict(labels.toPandas().itertuples(index=False, name=None))
        recall = sum(1 for a, b in self.pairs if a in comp and comp[a] == comp.get(b)) / max(len(self.pairs), 1)
        ids = sorted(pq.read_table(out_dir, columns=["doc_id"]).column("doc_id").to_pylist())
        h = hashlib.sha256(repr(ids).encode()).hexdigest()
        self.survivor_hash = self.survivor_hash or h
        if h != self.survivor_hash or recall < DUP_RECALL_FLOOR:
            print(f"llm_corpus dedup check failed: dup_pair_recall={recall:.4f} "
                  f"same_survivors={h == self.survivor_hash}", flush=True)
            return False
        self.dup_recall.append(recall)
        return True

    # -- vector index build and search ---------------------------------------

    def _vectors(self, tr, layers: dict) -> bool:
        from flink_1_19_source_spark.operators.graph_ann import M_EDGES, knn_graph_blocked
        from flink_1_19_source_spark.operators.similarity import ivf_topk
        from flink_1_19_source_spark.tables import load_table

        d = self.inputs.dir
        vecs = load_table(self.spark, d, "embeddings")
        queries = self.spark.read.parquet(os.path.join(d, "queries.parquet"))
        with tr.span("operators.graph_ann.knn_graph_blocked") as sp:
            edges = knn_graph_blocked(vecs, self.centroids, m=M_EDGES, nprobe=2).count()
        with tr.span("operators.similarity.ivf_topk") as sq:
            top = ivf_topk(vecs, queries, self.centroids, k=K, nprobe=NPROBE).select(
                "query_id", "neighbor_id").toPandas()
        if sp is not None:
            layers.update({
                "operators.graph_ann.knn_graph_blocked.s": sp.seconds,
                "operators.graph_ann.knn_graph_blocked.shuffle_write_mb": sp.counters["shuffle_write_mb"],
                "operators.graph_ann.knn_graph_blocked.edges_out": edges,
                "operators.similarity.ivf_topk.s": sq.seconds,
                "operators.similarity.ivf_topk.executor_cpu_s": sq.counters["executor_cpu_s"],
            })
        if not self.checking:
            return True
        recall = sum(nb in self.exact[qid] for qid, nb in top.itertuples(index=False)) / (K * len(self.exact))
        if edges < EDGE_FLOOR * M_EDGES * self.inputs.rows["embeddings"] or recall < KNN_RECALL_FLOOR:
            print(f"llm_corpus vector check failed: edges={edges} recall_at_10={recall:.4f}", flush=True)
            return False
        self.knn_recall.append(recall)
        self.build_s.append(sp.seconds)
        self.search_s.append(sq.seconds)
        return True

    def warmup(self, inputs: gen.Inputs) -> None:
        super().warmup(inputs)
        if self.ctx.trace:  # the vector probe runs in traced passes only
            self._vectors(self.off, {})

    def e2e(self, pass_times: list[float]) -> dict:
        p50 = stats.median(pass_times)
        return {
            "rows_per_s": (self.inputs.rows["documents"] / p50, "rows/s"),
            "latency_p50_ms": (p50 * 1e3, "ms"),
            "dup_pair_recall": (stats.median(self.dup_recall), "ratio"),
        }

    def checks(self) -> dict:
        out = {"dup_pair_recall_floor": DUP_RECALL_FLOOR, "injected_pairs": len(self.pairs),
               "survivor_hash": self.survivor_hash}
        if self.knn_recall:  # traced runs: the vector probe's figures
            out.update({
                "recall_at_10": stats.median(self.knn_recall),
                "recall_at_10_floor": KNN_RECALL_FLOOR, "edges_floor_share": EDGE_FLOOR,
                "index_rows_per_s": self.inputs.rows["embeddings"] / stats.median(self.build_s),
                "queries_per_s": self.inputs.rows["queries"] / stats.median(self.search_s),
            })
        return out
