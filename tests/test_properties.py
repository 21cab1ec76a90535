"""Randomized property tests (hypothesis) for the custom operators, checked
against brute-force Python references — the edge-case net the fixed-data
oracle tests can't cast: empty inputs, boundary timestamps, tie-breaks,
single-row groups.

Flink's temporal join requires a primary key on the build side; we mirror
that constraint (unique (key, ts) right rows) — with duplicates the as-of
winner is undefined in both engines.
"""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_1_19_source_spark.operators.asof_join import asof_join
from flink_1_19_source_spark.operators.cumulate import cumulate
from flink_1_19_source_spark.operators.dedup import (
    connected_components,
    connected_components_star,
)

_EPOCH = datetime.datetime(2024, 1, 1)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _ts(seconds: int) -> datetime.datetime:
    return _EPOCH + datetime.timedelta(seconds=seconds)


@given(
    rows=st.lists(st.integers(min_value=0, max_value=7200), min_size=1, max_size=25),
    step_n=st.sampled_from([1, 2, 3]),
)
@_settings
def test_cumulate_matches_reference(spark, rows, step_n):
    """Every row lands in exactly its covering cumulate windows —
    [w0, w0+k·step) for k = ceil((t-w0)/step) … max/step."""
    step_s = step_n * 300
    max_s = step_s * 4
    df = spark.createDataFrame(
        [(i, _ts(s)) for i, s in enumerate(rows)], "id long, ts timestamp"
    )
    got = {
        (r.id, r.window_start, r.window_end)
        for r in cumulate(df, "ts", f"{step_s} seconds", f"{max_s} seconds").collect()
    }
    want = set()
    for i, s in enumerate(rows):
        w0 = s - (s % max_s)
        k0 = (s - w0) // step_s + 1  # first step boundary strictly after t
        for end in range(k0 * step_s, max_s + 1, step_s):
            want.add((i, _ts(w0), _ts(w0 + end)))
    assert got == want


@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=0, max_size=15
    ),
    right_ts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(-100, 100)),
        min_size=0,
        max_size=15,
        unique_by=lambda t: (t[0], t[1]),  # build side PK: (key, ts)
    ),
)
@_settings
def test_asof_join_matches_reference(spark, left, right_ts):
    ldf = spark.createDataFrame(
        [(i, k, _ts(s)) for i, (k, s) in enumerate(left)] or [],
        "lid long, k long, lt timestamp",
    )
    rdf = spark.createDataFrame(
        [(k, _ts(s), v) for k, s, v in right_ts] or [],
        "k long, rt timestamp, v long",
    )
    if not left:
        return
    got = {
        (r.lid, r.v)
        for r in asof_join(
            ldf, rdf, on=["k"], left_time="lt", right_time="rt", right_values=["v"]
        ).collect()
    }
    want = set()
    for i, (k, s) in enumerate(left):
        cands = [(rs, v) for rk, rs, v in right_ts if rk == k and rs <= s]
        want.add((i, max(cands)[1] if cands else None))
    assert got == want


@given(
    edges=st.one_of(
        st.lists(
            st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
            min_size=1,
            max_size=20,
        ),
        # a path through shuffled ids (diameter up to 29), plus a few
        # random extra edges
        st.tuples(
            st.integers(2, 30).flatmap(lambda n: st.permutations(range(n))),
            st.lists(
                st.tuples(st.integers(0, 40), st.integers(0, 40)).filter(lambda e: e[0] != e[1]),
                max_size=5,
            ),
        ).map(lambda t: list(zip(t[0], t[0][1:])) + t[1]),
    )
)
@_settings
def test_connected_components_matches_union_find(spark, edges):
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    ).distinct()
    # a 30-node chain plus 5 extra edges has diameter <= 34
    got = {(r.id, r.component) for r in connected_components(pairs, max_iter=40).collect()}
    star = {(r.id, r.component) for r in connected_components_star(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    nodes = set()
    for a, b in edges:
        union(a, b)
        nodes.update((a, b))
    want = {(n, find(n)) for n in nodes}
    assert got == want
    assert star == want


def test_approx_count_distinct_error_bound(spark, sf_dir):
    """A9: HLL estimate must sit within ~5×rsd of the exact distinct count
    (rsd=0.05 ⇒ assert 25% — loose enough to be flake-free, tight enough
    to catch a broken sketch)."""
    from pyspark.sql import functions as F
    from flink_1_19_source_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    est = li.agg(F.approx_count_distinct("l_partkey", 0.05).alias("e")).collect()[0]["e"]
    exact = li.agg(F.countDistinct("l_partkey").alias("d")).collect()[0]["d"]
    assert abs(est - exact) / exact <= 0.25, (est, exact)


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0, max_size=30,
    ),
    seeds=st.sets(st.integers(0, 12), min_size=1, max_size=4),
    hops=st.sampled_from([1, 2, 3]),
)
@_settings
def test_bfs_distances_matches_python_bfs(spark, edges, seeds, hops):
    """X8 frontier BFS vs a driver-side reference BFS on random digraphs."""
    from flink_1_19_source_spark.operators.iterate import bfs_distances

    edf = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    ).limit(len(edges))
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {(r.node, r.dist) for r in bfs_distances(edf, sdf, hops).collect()}

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    dist = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, hops + 1):
        frontier = {
            v for u in frontier for v in adj.get(u, ()) if v not in dist
        }
        for v in frontier:
            dist[v] = d
    assert got == set(dist.items())


def test_stratified_sample_deterministic_and_in_rate_bounds(spark):
    """N6: the hash gate keeps ≈rate of each stratum, identically across
    runs and repartitionings (the property rand()-sampling lacks)."""
    from flink_1_19_source_spark.operators import sampling

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 2 == 0).cast("string").alias("stratum"),
    )
    rates = {"true": 0.3, "false": 0.7}
    kept1 = sampling.stratified_sample(df, "k", "stratum", rates, salt="t")
    kept2 = sampling.stratified_sample(
        df.repartition(13), "k", "stratum", rates, salt="t"
    )
    rows1 = {(r.k, r.stratum) for r in kept1.collect()}
    rows2 = {(r.k, r.stratum) for r in kept2.collect()}
    assert rows1 == rows2  # partitioning-independent
    for val, rate in rates.items():
        frac = sum(1 for _, s in rows1 if s == val) / (n / 2)
        assert abs(frac - rate) < 0.05, (val, frac, rate)
    # independent draw under a different salt
    rows3 = {(r.k, r.stratum)
             for r in sampling.stratified_sample(df, "k", "stratum", rates,
                                                 salt="u").collect()}
    assert rows3 != rows1


def test_assign_split_partitions_every_key(spark):
    """N6: split labels are disjoint, exhaustive, and ≈ the fractions."""
    from flink_1_19_source_spark.operators import sampling

    n = 4000
    df = spark.range(n)
    fr = {"train": 0.75, "val": 0.125, "test": 0.125}
    out = df.select("id", sampling.assign_split(F.col("id"), "s", fr)).collect()
    assert len(out) == n  # one label per key
    counts: dict[str, int] = {}
    for r in out:
        counts[r.split] = counts.get(r.split, 0) + 1
    assert set(counts) == set(fr)
    for label, frac in fr.items():
        assert abs(counts[label] / n - frac) < 0.04, (label, counts[label])


def test_cep_fast_path_agrees_with_nfa_engine(spark, sf_dir):
    """X5: the Catalyst aggregate fast path (match_counts — JVM regex over
    the sorted symbol string) must agree with the span-returning NFA
    engine (match_recognize_lite) on every key: same match counts, same
    longest-match lengths."""
    from pyspark.sql import functions as F

    from flink_1_19_source_spark.operators import cep
    from flink_1_19_source_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    sym = cep.classify(
        {"signup": "A", "click": "B", "view": "B", "purchase": "C"}
    )(F.col("event_type"))
    fast = {
        r.key: (r.n_matches, r.longest_match)
        for r in cep.match_counts(
            e, key_col="user_id", ts_col="ts", id_col="event_id",
            symbol=sym, pattern="AB+C",
        ).collect()
    }
    nfa = (
        cep.match_recognize_lite(
            e, key_col="user_id", ts_col="ts", id_col="event_id",
            symbol=sym, pattern="AB+C",
        )
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"), F.max("n_rows").alias("longest"))
    )
    slow = {r.key: (r.n, r.longest) for r in nfa.collect()}
    assert fast == slow and len(fast) > 0


def test_portable_hll_accuracy_and_merge(spark, sf_dir):
    """A9 portable HLL: estimate within ~3·rsd of exact, and the sketch
    is mergeable — union of two halves' registers gives the same estimate
    as sketching the union (the rollup property)."""
    from flink_1_19_source_spark.operators.sketches import hll_distinct
    from flink_1_19_source_spark.tables import load_table

    l = load_table(spark, sf_dir, "lineitem")
    est = hll_distinct(l, "l_orderkey", b=8).first().estimate
    exact = l.select("l_orderkey").distinct().count()
    assert abs(est - exact) / exact < 0.20, (est, exact)
    # mergeability: same estimate from the union of the halves' registers
    whole = hll_distinct(l, "l_orderkey", b=8).first().estimate
    both = hll_distinct(
        l.filter(F.col("l_orderkey") % 2 == 0).unionByName(
            l.filter(F.col("l_orderkey") % 2 != 0)
        ),
        "l_orderkey",
        b=8,
    ).first().estimate
    assert whole == both


def test_bloom_no_false_negatives_and_fp_bound(spark, sf_dir):
    """A14 portable Bloom: every inserted key must probe positive (the
    Bloom guarantee), and the false-positive rate over a disjoint probe
    set stays within ~3× the (n_set/m)^k bound."""
    from flink_1_19_source_spark.operators.sketches import bloom_bits, bloom_probe
    from flink_1_19_source_spark.tables import load_table

    m, k = 4096, 3
    o = load_table(spark, sf_dir, "orders")
    bits = bloom_bits(o, "o_custkey", m=m, k=k)
    n_set = bits.count()

    members = o.select(F.col("o_custkey").alias("x")).distinct()
    v_in = bloom_probe(members, "x", bits, m=m, k=k)
    assert v_in.filter(~F.col("member")).count() == 0  # no false negatives

    # disjoint probe keys (custkeys are small positives; offset far away)
    probe = spark.range(1_000_000, 1_002_000).select(F.col("id").alias("x"))
    v_out = bloom_probe(probe, "x", bits, m=m, k=k)
    fp = v_out.filter(F.col("member")).count()
    bound = (n_set / m) ** k
    assert fp / 2000 <= 3 * bound + 0.01, (fp, n_set, bound)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),     # key
            st.integers(min_value=0, max_value=400),   # ms
            st.integers(min_value=1, max_value=120),   # gap
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_dynamic_sessions_match_reference(spark, rows):
    """W4 dynamic gap vs a pure-Python running-max-merge reference —
    random keys/timestamps/gaps, including ties and zero-length bursts."""
    from flink_1_19_source_spark.operators.sessions import assign_dynamic_sessions

    data = [(k, m, g, i) for i, (k, m, g) in enumerate(rows)]
    df = spark.createDataFrame(data, "key long, ms long, gap long, tb long")
    got = {
        (r.key, r.tb): r.sid
        for r in assign_dynamic_sessions(df, "key", "ms", "gap", "tb").collect()
    }

    want: dict[tuple, int] = {}
    bykey: dict[int, list] = {}
    for k, m, g, i in data:
        bykey.setdefault(k, []).append((m, i, g))
    for k, seq in bykey.items():
        seq.sort()
        sid, frontier = 0, None
        for m, i, g in seq:
            if frontier is None or m >= frontier:
                sid += 1
                frontier = m + g
            else:
                frontier = max(frontier, m + g)
            want[(k, i)] = sid
    assert got == want


@given(
    docs=st.lists(
        st.text(alphabet="ab ", min_size=5, max_size=40),
        min_size=2,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_simhash_pairs_complete_vs_brute_force(spark, docs):
    """N2 Hamming-ball mining: the 4-block pigeonhole join must find
    EXACTLY the pairs brute-force popcount finds at distance <= 3 —
    pigeonhole guarantees no false negatives; the re-check kills false
    positives. Random near-identical 'ab'-alphabet docs maximize low
    Hamming distances."""
    from flink_1_19_source_spark.operators.dedup import simhash, simhash_pairs

    rows = [(i, t if t.strip() else "a a a") for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs(df, "doc_id", "text", n=3, max_hamming=3).collect()
    }
    fps = {r.id: r.simhash for r in simhash(df, "doc_id", "text", n=3).collect()}
    ids = sorted(fps)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(fps[a] ^ fps[b]).count("1")
            if d <= 3:
                want.add((a, b, d))
    assert got == want


def test_skip_mode_laws(spark, sf_dir):
    """X5 after-match strategies: PAST LAST ROW's matches are a subset of
    TO NEXT ROW's, are non-overlapping, and PAST LAST ROW ≡
    match_recognize_lite's finditer semantics on the same pattern."""
    from pyspark.sql import functions as F

    from flink_1_19_source_spark.operators import cep
    from flink_1_19_source_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "purchase", "C")
        .when(F.col("event_type").isin("click", "view"), "B")
        .otherwise("X")
    )

    def spans(skip):
        return cep.match_recognize_skip(
            e, "user_id", "ts", "event_id", sym, "CB*C", skip=skip
        ).collect()

    past = spans("past_last_row")
    nxt = spans("to_next_row")
    k = lambda r: (r.key, r.start_id, r.end_id)
    past_set, next_set = {k(r) for r in past}, {k(r) for r in nxt}
    assert past_set <= next_set
    assert len(next_set) > len(past_set)  # overlap policy must diverge
    # measures are internally consistent
    for r in nxt:
        assert r.n_rows == r.b_rows + 2 and r.first_ts <= r.last_ts
    # past_last ≡ the lite engine (same finditer semantics)
    lite = cep.match_recognize_lite(
        e, "user_id", "ts", "event_id", sym, "CB*C"
    ).collect()
    assert {(r.key, r.start_id, r.end_id) for r in lite} == past_set

    import pytest

    with pytest.raises(ValueError, match="SKIP"):
        cep.match_recognize_skip(
            e, "user_id", "ts", "event_id", sym, "CB*C", skip="bogus"
        )


@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
)
def test_png_codec_roundtrip_fuzz(w, h, seed):
    """PNG codec: any pixel buffer round-trips losslessly at any
    dimensions (every filter type participates for h >= 5)."""
    import random

    from flink_1_19_source_spark.operators import png_codec as pc

    rng = random.Random(seed)
    pixels = bytes(rng.randrange(256) for _ in range(w * h * 3))
    rw, rh, out = pc.decode_png(pc.encode_png(pixels, w, h))
    assert (rw, rh, out) == (w, h, pixels)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 64),
    channels=st.sampled_from([1, 2]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_codec_roundtrip_fuzz(n, channels, seed):
    import random

    from flink_1_19_source_spark.operators import wav_codec as wc

    rng = random.Random(seed)
    samples = [rng.randrange(-32768, 32768) for _ in range(n * channels)]
    rate, ch, out = wc.decode_wav(
        wc.encode_wav(samples, sample_rate=8000, channels=channels)
    )
    assert (rate, ch, out) == (8000, channels, samples)


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(1, 8),
    h=st.integers(1, 6),
    nf=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
def test_avi_codec_roundtrip_fuzz(w, h, nf, seed):
    """AVI codec: frames of any odd/even stride round-trip exactly
    (exercises the DIB row-padding and bottom-up/BGR inversions)."""
    import random

    from flink_1_19_source_spark.operators import avi_codec as ac

    rng = random.Random(seed)
    frames = [
        bytes(rng.randrange(256) for _ in range(w * h * 3)) for _ in range(nf)
    ]
    rw, rh, fps, out = ac.decode_avi(ac.encode_avi(frames, w, h))
    assert (rw, rh, out) == (w, h, frames)


# ---------------------------------------------------------------------------
# r6 continuation: bottom-k mergeability + quantifier-oracle equivalence
# ---------------------------------------------------------------------------

@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=0,
                 max_size=120, unique=True),
    k=st.integers(min_value=1, max_value=12),
    n_parts=st.integers(min_value=1, max_value=5),
)
@_settings
def test_bottomk_sample_is_mergeable(ids, k, n_parts):
    """The algebra s_quantile_sketch_stream rests on: bottom-k (by md5
    priority) of a union == bottom-k of the concatenated per-part
    bottom-k's, for ANY partitioning — checked against the same priority
    the engines compute (low 60 bits of md5 of the decimal id)."""
    import hashlib

    def pri(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    def bottomk(xs):
        return sorted(xs, key=lambda i: (pri(i), i))[:k]

    whole = bottomk(ids)
    parts = [[] for _ in range(n_parts)]
    for j, i in enumerate(ids):
        parts[j % n_parts].append(i)
    merged = bottomk([i for p in parts for i in bottomk(p)])
    assert merged == whole


@given(
    syms=st.lists(st.sampled_from("SCVPX"), min_size=0, max_size=60),
)
@_settings
def test_quantifier_regex_equals_run_formulation(syms):
    """The x5_quantifier_alternation equivalence proof, fuzzed: greedy
    non-overlapping regex matching of S[CV]{2,3}P equals the relational
    formulation the DuckDB oracle uses (S matches iff its following
    [CV]-run has length 2..3 and ends at a P) on arbitrary symbol
    strings."""
    import re

    s = "".join(syms)
    regex_spans = [(m.start(), m.end() - 1) for m in re.finditer(r"S[CV]{2,3}P", s)]
    rel_spans = []
    for i, ch in enumerate(s):
        if ch != "S":
            continue
        j = i + 1
        while j < len(s) and s[j] in "CV":
            j += 1
        if j < len(s) and s[j] == "P" and 2 <= j - i - 1 <= 3:
            rel_spans.append((i, j))
    assert regex_spans == rel_spans


@given(
    syms=st.lists(st.sampled_from("CBX"), min_size=0, max_size=60),
)
@_settings
def test_skip_to_variable_regex_equals_edge_pair_formulation(syms):
    """x5_skip_to_variable's equivalence proof, fuzzed: scanning
    C B* C B* C with AFTER MATCH SKIP TO the final C (resume AT that
    row) equals the relational odd-edge-pair formulation the DuckDB
    oracle uses — and differs from both PAST LAST ROW and TO NEXT ROW
    on chained runs."""
    import re

    s = "".join(syms)
    pat = re.compile("C(?P<b1>B*)(?P<mid>C)(?P<b2>B*)(?P<last>C)")

    # the operator's scan: resume at the last C of each match
    got = []
    pos = 0
    while True:
        m = pat.search(s, pos)
        if m is None:
            break
        got.append((m.start(), m.end() - 1))
        pos = m.start("last")

    # relational replay: purchase-chain edges, matches at odd positions
    cs = [i for i, ch in enumerate(s) if ch == "C"]
    edges = [
        (cs[i], cs[i + 1])
        for i in range(len(cs) - 1)
        if all(ch == "B" for ch in s[cs[i] + 1 : cs[i + 1]])
    ]
    chains: list[list[tuple[int, int]]] = []
    for e in edges:
        if chains and chains[-1][-1][1] == e[0]:
            chains[-1].append(e)
        else:
            chains.append([e])
    want = []
    for ch_edges in chains:
        for p in range(0, len(ch_edges) - 1, 2):
            want.append((ch_edges[p][0], ch_edges[p + 1][1]))
    assert got == sorted(want)


@given(
    syms=st.lists(st.sampled_from("SCPX"), min_size=0, max_size=60),
)
@_settings
def test_reluctant_quantifier_equals_run_formulation(syms):
    """x5_reluctant_quantifier's equivalence proof, fuzzed: lazy
    S[CP]*?P matches end at the signup's FIRST purchase inside its
    [CP]-run, greedy S[CP]*P at the LAST — and because S terminates the
    class, the per-signup relational formulation equals the sequential
    non-overlapping scan for both."""
    import re

    s = "".join(syms)

    def scan(pattern):
        return [
            (m.start(), m.end() - 1) for m in re.finditer(pattern, s)
        ]

    def relational(pick):
        out = []
        for i, ch in enumerate(s):
            if ch != "S":
                continue
            j = i + 1
            ps = []
            while j < len(s) and s[j] in "CP":
                if s[j] == "P":
                    ps.append(j)
                j += 1
            if ps:
                out.append((i, pick(ps)))
        return out

    assert scan(r"S[CP]*?P") == relational(min)
    assert scan(r"S[CP]*P") == relational(max)


@given(
    syms=st.lists(st.sampled_from("ABCX"), min_size=0, max_size=60),
)
@_settings
def test_exclusion_scan_equals_run_formulation(syms):
    """x5_exclusion's equivalence proof, fuzzed: the named-group
    exclusion scan of A{-B+-}C (rows match, measures drop the B run)
    equals the relational formulation the DuckDB oracle uses — a signup
    qualifies iff its following B-run has length >= 1 and ends at a C;
    included rows are exactly the A and the C."""
    from flink_1_19_source_spark.operators.cep import (
        compile_exclusions,
        exclusion_matches,
    )

    s = "".join(syms)
    compiled, names = compile_exclusions("A{-B+-}C")
    got = [
        (a, b, inc) for a, b, inc in exclusion_matches(compiled, names, s)
    ]

    want = []
    for i, ch in enumerate(s):
        if ch != "A":
            continue
        j = i + 1
        while j < len(s) and s[j] == "B":
            j += 1
        if j < len(s) and s[j] == "C" and j >= i + 2:
            want.append((i, j, [i, j]))
    assert got == want


def test_exclusion_multiple_and_optional_groups():
    """Two exclusions in one pattern subtract independently; an
    optional exclusion that matched zero width excludes nothing; a
    fully-excluded match still consumes its span."""
    from flink_1_19_source_spark.operators.cep import (
        compile_exclusions,
        exclusion_matches,
    )

    c, n = compile_exclusions("A{-B+-}C{-D*-}E")
    assert n == ["xcl0", "xcl1"]
    # with D-run: both exclusions bite
    (a, b, inc), = exclusion_matches(c, n, "ABBCDDE")
    assert (a, b) == (0, 6) and inc == [0, 3, 6]
    # optional D* empty: only the B exclusion bites
    (a, b, inc), = exclusion_matches(c, n, "ABCE")
    assert (a, b) == (0, 3) and inc == [0, 2, 3]
    # a fully-excluded pattern consumes but includes nothing
    c2, n2 = compile_exclusions("{-B+-}")
    (a, b, inc), = exclusion_matches(c2, n2, "XBBBX")
    assert (a, b) == (1, 3) and inc == []
