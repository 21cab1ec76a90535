"""Deduplication operators (SURVEY §2.11 N1/N2) — training-data pipeline
grade, designed for 100 TB document corpora.

- exact_dedup:      hash-groupBy on content (or a digest for wide rows).
- ngram_jaccard_pairs: exact near-dup pairs via an inverted shingle index
                    (explode→self-join on shingle→count ∩ / ∪). Exact but
                    quadratic in per-shingle document frequency — the
                    oracle/verifier for the approximate paths.
- minhash_signatures / minhash_lsh_pairs: MinHash + banded LSH. Linear
                    scan cost, one shuffle per band join; the scale path.
- simhash:          64-bit SimHash fingerprint + Hamming-ball candidate
                    pairs via 4-way block rotation.

Shingling/hashing is Spark built-in expression work (xxhash64, codegen);
signature math (minhash mins, simhash majority votes) is Arrow-vectorized
numpy in pandas UDFs — Catalyst does not codegen higher-order-function
lambdas, so vectorized numpy is the fast path for per-document linear
algebra at scale.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne-31 prime for affine MinHash permutations: with h, a, b < 2^31,
# h*a + b < 2^62 + 2^31 stays inside signed int64 — no overflow under
# Spark's ANSI arithmetic (Mersenne-61 would overflow the multiply).
_MERSENNE = (1 << 31) - 1


def tokenize(text: Column) -> Column:
    """Lowercase whitespace tokenization (deterministic, locale-free)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a document."""
    toks = tokenize(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.array_join(toks, " ")))
    )


def _shingle_hashes(text: str, n: int) -> "np.ndarray":
    """Distinct word n-gram shingles of one document, hashed to a positive
    63-bit int (deterministic across processes/executors). Mirrors
    `word_shingles` semantics: lowercase \\s+ tokens, n-grams joined by a
    space, whole doc if fewer than n tokens.

    The hash is the low 8 md5 digest bytes, little-endian, shifted right
    one bit — bit-for-bit ``md5_number_lower(s) >> 1`` in DuckDB, which is
    what lets the MinHash/SimHash queries carry full value-hash oracles
    instead of rows-only checks."""
    import hashlib

    toks = text.lower().split()
    if len(toks) >= n:
        shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        shingles = {" ".join(toks)}
    return np.fromiter(
        (
            int.from_bytes(hashlib.md5(s.encode()).digest()[8:], "little") >> 1
            for s in shingles
        ),
        dtype=np.int64,
        count=len(shingles),
    )


def minhash_perms(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """The seeded affine-permutation coefficients (a, b) used by
    `minhash_signatures`. Exposed so oracle generators can embed the same
    constants as SQL literals."""
    import random

    rng = random.Random(seed)
    pa = [rng.randrange(1, _MERSENNE) for _ in range(num_hashes)]
    pb = [rng.randrange(0, _MERSENNE) for _ in range(num_hashes)]
    return pa, pb


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id representative per distinct content.
    groupBy(content) — partial agg combines map-side; only one row per
    distinct content crosses the shuffle."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies")
    )


def _shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    stop_shingle_df_cap: int | None,
) -> DataFrame:
    """Inverted shingle index shared by the n-gram pair finders: every
    document pair (id_a < id_b) sharing at least one shingle, with the
    shared-shingle count and both shingle-set sizes.  Output:
    (id_a, id_b, n_inter, sz_a, sz_b).  With ``stop_shingle_df_cap``,
    shingles whose document frequency exceeds the cap are dropped before
    the self-join, from the sizes too (see ngram_jaccard_pairs)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("shingle"),
    )
    if stop_shingle_df_cap is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= stop_shingle_df_cap)
            .select("shingle")
        )
        # semi-join keyed on shingle — same shuffle key the self-join needs,
        # so the extra pass adds no new partitioning
        sh = sh.join(rare, "shingle", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", "n_inter", "sz_a", "sz_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    stop_shingle_df_cap: int | None = None,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via inverted shingle index.

    |A ∩ B| by counting shared shingles; |A ∪ B| = |A|+|B|−|∩|. Output:
    (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    Scale note: the self-join key is the shingle, so each shingle with
    document frequency d contributes O(d²) candidate pairs — one hot
    boilerplate sentence makes the join quadratic in its df. Pass
    ``stop_shingle_df_cap`` to drop shingles with df > cap *before* the
    self-join (one extra agg + a semi-join on the same shuffle key): the
    fan-out is then bounded by corpus_shingles × cap. Jaccard is computed
    over the capped shingle universe (sizes exclude dropped shingles too) —
    on a corpus where no shingle exceeds the cap the result is identical to
    the uncapped run; when the cap binds it is the standard stop-shingle
    approximation (hot shingles carry no near-dup signal anyway).
    Default off: test corpora are synthetic and bounded; at 100 TB set a
    cap around 10⁴.
    """
    return (
        _shingle_intersections(df, id_col, text_col, n, stop_shingle_df_cap)
        .withColumn(
            "jaccard",
            F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    stop_shingle_df_cap: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup: containment(A in B) = |A ∩ B| / |A| — the
    measure that catches a small document embedded in a big one, which
    symmetric Jaccard structurally misses (|A|/|B| bounds the Jaccard of
    a perfect subset).  Same inverted shingle index and df-cap rule as
    ngram_jaccard_pairs; each unordered intersection yields up to two
    directed rows.  Output: (contained_id, container_id, containment,
    jaccard) with containment >= threshold."""
    both = _shingle_intersections(df, id_col, text_col, n, stop_shingle_df_cap)
    jac = F.col("n_inter") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    )
    d1 = both.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        (F.col("n_inter") / F.col("sz_a")).alias("containment"),
        jac.alias("jaccard"),
    )
    d2 = both.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        (F.col("n_inter") / F.col("sz_b")).alias("containment"),
        jac.alias("jaccard"),
    )
    return (
        d1.unionByName(d2)
        .filter(F.col("containment") >= threshold)
        .select(
            "contained_id", "container_id",
            F.round("containment", 9).alias("containment"),
            F.round("jaccard", 9).alias("jaccard"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document: array<long> of length num_hashes.

    One Arrow-vectorized pandas UDF does shingling, hashing (blake2b-64:
    C-speed, process-independent, unlike Python's seeded ``hash``) and the
    min over `num_hashes` affine permutations as a numpy broadcast
    (S×1 · 1×K). Interpreted Catalyst lambdas (transform/slice/array_join)
    were ~10× slower for the same work — Catalyst does not codegen
    higher-order functions. Permutation coefficients are seeded driver-side
    constants, identical on every executor. One narrow pass, no shuffle.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    pa_l, pb_l = minhash_perms(num_hashes, seed)
    pa = np.array(pa_l, dtype=np.int64)
    pb = np.array(pb_l, dtype=np.int64)

    @pandas_udf(ArrayType(LongType()))
    def minsig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hv = _shingle_hashes(t, n)[:, None] % _MERSENNE  # S×1, < 2^31
            # h*a + b < 2^62 + 2^31: no int64 overflow
            out.append(((hv * pa[None, :] + pb[None, :]) % _MERSENNE).min(axis=0))
        return pd.Series(out)

    return df.select(
        F.col(id_col).alias("id"), minsig(F.col(text_col)).alias("signature")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    band_bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Banded-LSH candidate pairs + MinHash-estimated Jaccard.

    num_hashes/bands rows per band; two docs are candidates if any band
    matches exactly. Implemented as: band-key = hash(band slice), explode
    to (band, key), self-join on it — each shuffle key is a band bucket,
    so work is proportional to bucket sizes, not corpus².

    Skew guard: a degenerate corpus (thousands of boilerplate-identical
    docs) puts them all in ONE band bucket, and that bucket's self-join
    goes quadratic. ``band_bucket_cap`` drops buckets with more than cap
    members before the join (mirroring ``stop_shingle_df_cap``) — the
    members of an over-cap bucket still pair through their other, more
    selective bands, so recall degrades gracefully while the worst-case
    candidate count is bounded by buckets × cap². Defaults ON (10⁴) so
    the entry point a user copies is scale-safe — a boilerplate-dense
    100 TB corpus can't send one bucket quadratic; pass ``None`` to
    disable. At test SFs the cap provably never binds.

    Output: (id_a, id_b, est_jaccard) for candidates, id_a < id_b.
    """
    buckets = minhash_band_buckets(df, id_col, text_col, n, num_hashes, bands, seed)
    if band_bucket_cap is not None:
        # semi-join keyed on bk — the same shuffle key the self-join uses,
        # so the cap pass adds no new partitioning
        ok = (
            buckets.groupBy("bk")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") <= band_bucket_cap)
            .select("bk")
        )
        buckets = buckets.join(ok, "bk", "left_semi")
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.signature").alias("sig_a"),
            F.col("b.signature").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: x == y),
            lambda eq: eq,
        )
    )
    return cand.select(
        "id_a",
        "id_b",
        (matches / F.lit(float(num_hashes))).alias("est_jaccard"),
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair graph → dedup clusters
    (id, component) with component = min id reachable.

    Iterative min-label propagation: each round takes every node's min
    label over its closed neighbourhood; stops when no label changed.
    Rounds are O(diameter) — near-dup graphs are clusters of
    near-identical docs, so diameter is tiny — and on such small graphs
    each Spark job costs more than the data it moves, so the loop is
    built to run as few jobs as possible:

    1. The edge list — both directions plus a self-loop per node,
       distinct — comes from one scan of ``pairs`` and is materialized
       (``localCheckpoint``) before the loop, so the caller's pair plan
       (an LSH band self-join, say) runs once, not once per round.
    2. Labels are seeded with ``least(id, min(neighbour id))`` (the min
       over the closed neighbourhood) — one aggregate over those edges,
       and the first propagation round for free.
    3. A round is one join + one aggregate: the self-loop carries the
       node's previous label into the aggregate, so the round's
       checkpointed output holds a ``changed`` flag (new < previous)
       and convergence is a narrow ``filter(changed).limit(1).count()``
       over the materialized round — no join of new labels against old.
       ``localCheckpoint`` also truncates the lineage so round N's plan
       does not re-execute rounds 1..N-1 (the classic iterative-Spark
       trap).

    Raises ``RuntimeError`` if the ``max_iter``-th round still changed a
    label: partial labels would silently keep duplicates. A graph with a
    long chain needs a higher ``max_iter`` or ``connected_components_star``
    (O(log n) rounds).
    """
    a, b = F.col(src_col), F.col(dst_col)
    closed = F.array(*(
        F.struct(s.alias("src"), d.alias("dst"))
        for s, d in ((a, b), (b, a), (a, a), (b, b))
    ))
    edges = (
        pairs.select(F.explode(closed).alias("e"))
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component")
    )
    for _ in range(max_iter):
        labels = (
            edges.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.min("component").alias("component"),
                F.min(
                    F.when(F.col("src") == F.col("dst"), F.col("component"))
                ).alias("prev"),
            )
            .select(
                "id",
                "component",
                (F.col("component") < F.col("prev")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        if labels.filter("changed").limit(1).count() == 0:
            return labels.select("id", "component")
        labels = labels.select("id", "component")
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds; raise max_iter or use connected_components_star"
    )


def simhash(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """64-bit SimHash fingerprint per document: bit b is set iff more than
    half the shingle hashes have bit b set (bit 63 left clear so the value
    stays positive in a signed long).

    Shingling + blake2b hashing + the 63 per-bit majority votes run in one
    Arrow-vectorized numpy pass per document (S×63 bit matrix)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    shifts = np.arange(63, dtype=np.uint64)
    weights = np.left_shift(np.uint64(1), shifts)

    @pandas_udf(LongType())
    def fp(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            hv = _shingle_hashes(t, n).view(np.uint64)[:, None]  # S×1
            bits = (hv >> shifts[None, :]) & np.uint64(1)  # S×63
            majority = bits.sum(axis=0) * 2 > len(hv)
            out[i] = int((weights * majority.astype(np.uint64)).sum())
        return pd.Series(out)

    return df.select(F.col(id_col).alias("id"), fp(F.col(text_col)).alias("simhash"))


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """The LSH bucket index: (id, signature, bk=struct(band, key)) rows.

    Signatures are materialized once (localCheckpoint — python-UDF plans
    don't canonicalize equal, so without it a self-join evaluates the
    UDF on both sides; at warehouse scale persist them as a table). The
    band key compresses the signature slice through xxhash64 — equal
    slices ⇒ equal keys, so candidate sets match a raw-slice index.
    This index is also the HISTORY side of incremental dedup: today's
    batch probes yesterday's bucket keys without touching its rows.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes, seed).localCheckpoint(
        eager=True
    )
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("signature")[i * rows_per_band + j].cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("key"),
            )
            for i in range(bands)
        ]
    )
    return sigs.select("id", "signature", F.explode(band_keys).alias("bk"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-ball near-dup candidates over 64-bit SimHash via 4-block
    pigeonhole: two fingerprints within Hamming distance ≤ 3 differ in at
    most 3 of their 4 16-bit blocks, so they MUST agree exactly on at
    least one block — candidates join on (block_idx, block_value), never
    all-pairs; the exact popcount(xor) re-check then filters. Join
    fan-out ∝ per-block-bucket density. Output: (id_a, id_b, hamming)."""
    fps = simhash(df, id_col, text_col, n)
    blocks = fps.select(
        "id",
        F.col("simhash").alias("f"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("b"),
                        F.expr(f"(simhash >> {16 * i}) & 65535").alias("bv"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("blk"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("long").alias("hamming")
    )


def connected_components_star(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components via ALTERNATING STAR operations [Kiveris,
    Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014, "Connected
    Components in MapReduce and Beyond" — the published web-scale CC
    algorithm]: large-star hangs every neighbor larger than v onto the
    minimum of v's closed neighborhood, small-star re-hangs the
    smaller-or-equal ones; alternating the two converges to a star per
    component in O(log n) ROUNDS even on adversarial long-path graphs —
    where plain min-label propagation (connected_components above)
    needs O(diameter) rounds.  Near-dup graphs are usually shallow, so
    both work there; this is the variant whose round bound survives a
    100 TB graph with a pathological chain.

    Each round is two node-keyed aggregations (one shuffle each);
    convergence = the edge multiset reaching a fixpoint (checked by
    count + canonical hash, both cheap aggregates); ``localCheckpoint``
    truncates lineage per round as in the propagation variant.  Output:
    (id, component) with component = min id reachable — identical to
    connected_components, which tests pin.  Raises ``RuntimeError`` if
    the ``max_iter``-th round still changed the edge set: the labels
    would be partial."""
    edges = (
        pairs.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(
            pairs.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v"))
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    all_ids = edges.select(F.col("u").alias("id")).distinct()

    def star(e: DataFrame, large: bool) -> DataFrame:
        # per node u: m = min(closed neighborhood); re-hang the chosen
        # side of the neighborhood onto m
        grouped = e.groupBy("u").agg(
            F.collect_set("v").alias("nbrs")
        )
        m = F.least(F.col("u"), F.array_min("nbrs"))
        if large:
            hang = F.filter(F.col("nbrs"), lambda x: x > F.col("u"))
        else:
            hang = F.array_union(
                F.filter(F.col("nbrs"), lambda x: x <= F.col("u")),
                F.array(F.col("u")),
            )
        out = (
            grouped.select(m.alias("m"), F.explode(hang).alias("w"))
            .filter(F.col("w") != F.col("m"))
            .select(F.col("w").alias("u"), F.col("m").alias("v"))
        )
        # keep the symmetric closure so neighborhoods stay complete
        return (
            out.union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("u", "v").cast("long")).alias("h"),
        ).collect()[0]
        return int(row["n"] or 0), int(row["h"] or 0)

    sig = signature(edges)
    for _ in range(max_iter):
        edges = star(edges, large=True).localCheckpoint(eager=True)
        edges = star(edges, large=False).localCheckpoint(eager=True)
        new_sig = signature(edges)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds; raise max_iter"
        )
    # fixpoint: every component is a star around its min; a node's label
    # is its minimum neighbor (or itself for the center)
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("nbr_min"))
        .select(
            F.col("u").alias("id"),
            F.least(F.col("u"), F.col("nbr_min")).alias("component"),
        )
    )
    return all_ids.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )
