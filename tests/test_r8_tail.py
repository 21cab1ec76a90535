"""Round-8 tail wave: iterative-condition CEP and friends.

The driver-sim oracle certifies end-to-end equality; these tests pin the
unit-level semantics the oracle can't see directly (the shared automaton
step, backtracking equivalence on crafted sequences).
"""

from __future__ import annotations

from flink_1_19_source_spark.operators.cep import ITER_SEEK, iterative_step


def _scan(rows):
    """rows: (sym, val, rid, ts) -> list of match tuples."""
    st, out = ITER_SEEK, []
    for sym, val, rid, ts in rows:
        st, m = iterative_step(st, sym, float(val), rid, ts)
        if m is not None:
            out.append(m)
    return out


def test_iterative_basic_match():
    # A(10) B(11) B(12) C(9) -> one match, 2 B rows
    rows = [("A", 10, 1, 1), ("B", 11, 2, 2), ("B", 12, 3, 3), ("C", 9, 4, 4)]
    assert _scan(rows) == [(1, 4, 2, 10.0, 9.0, 1, 4)]


def test_iterative_b_below_anchor_fails():
    # the B at 9 < anchor 10 voids the attempt; the later C can't match
    rows = [("A", 10, 1, 1), ("B", 9, 2, 2), ("C", 5, 3, 3)]
    assert _scan(rows) == []


def test_iterative_c_above_anchor_fails_and_voids():
    # C at 11 >= anchor voids; a second C below anchor must NOT match
    # (the failed C row broke contiguity — same rule as the oracle's
    # bad_before counter)
    rows = [("A", 10, 1, 1), ("B", 12, 2, 2), ("C", 11, 3, 3), ("C", 5, 4, 4)]
    assert _scan(rows) == []


def test_iterative_reanchor_supersedes():
    # a fresh A inside an attempt re-anchors: the match closes against
    # the SECOND signup's value (20), not the first's
    rows = [
        ("A", 10, 1, 1), ("B", 11, 2, 2),
        ("A", 20, 3, 3), ("B", 25, 4, 4), ("C", 15, 5, 5),
    ]
    assert _scan(rows) == [(3, 5, 1, 20.0, 15.0, 3, 5)]


def test_iterative_needs_at_least_one_b():
    # A C with no B between: B+ unsatisfied
    rows = [("A", 10, 1, 1), ("C", 5, 2, 2)]
    assert _scan(rows) == []


def test_iterative_foreign_row_breaks():
    # an X (error) row inside the attempt drops to SEEK
    rows = [("A", 10, 1, 1), ("B", 11, 2, 2), ("X", 0, 3, 3), ("C", 5, 4, 4)]
    assert _scan(rows) == []


def test_iterative_two_matches_need_two_anchors():
    rows = [
        ("A", 10, 1, 1), ("B", 11, 2, 2), ("C", 9, 3, 3),
        ("C", 1, 4, 4),  # no live anchor -> ignored
        ("A", 50, 5, 5), ("B", 60, 6, 6), ("B", 70, 7, 7), ("C", 40, 8, 8),
    ]
    got = _scan(rows)
    assert [(m[0], m[1], m[2]) for m in got] == [(1, 3, 1), (5, 8, 2)]


def test_outer_join_retract_crash_replay_converges(spark, sf_dir):
    """Retraction-producing LEFT OUTER stream join: a crash injected
    AFTER the changelog MERGE but BEFORE the ledger mark, then a restart
    on the same checkpoint, must converge — the replayed batch
    recomputes the ABSOLUTE desired rows from the side logs, so the
    re-staged deletes hit already-absent rows (no-op) and the upserts
    re-apply identically."""
    from flink_1_19_source_spark.queries.streaming_retract2 import (
        _outer_join_retract_run,
    )

    def snap(**kw):
        return sorted(
            (r.view_id, r.purchase_id, r.user_id)
            for r in _outer_join_retract_run(spark, sf_dir, **kw).collect()
        )

    clean = snap()
    crashed = snap(crash_once_at=1)
    assert clean and crashed == clean


def test_outer_join_retract_slicing_invariant(spark, sf_dir):
    """3-chunk vs 8-chunk replays emit different mid-stream changelogs
    (null-padded rows retract at different points) but identical drained
    snapshots — the converged table is the batch LEFT JOIN either way."""
    from flink_1_19_source_spark.queries.streaming_retract2 import (
        _outer_join_retract_run,
    )

    def snap(chunks):
        return sorted(
            (r.view_id, r.purchase_id, r.user_id)
            for r in _outer_join_retract_run(
                spark, sf_dir, chunks=chunks
            ).collect()
        )

    a, b = snap(3), snap(8)
    assert a and a == b


def test_outer_join_retraction_actually_fires(spark, sf_dir):
    """The null flip must HAPPEN, not just converge: at least one view
    row must gain a purchase only in a later batch (i.e. its user's
    first purchase arrives after the view), otherwise the -D path was
    never exercised and the oracle equality is vacuous."""
    import duckdb

    got = duckdb.sql(
        f"""
        WITH v AS (SELECT user_id, MIN(ts) mv
                   FROM '{sf_dir}/events.parquet'
                   WHERE event_type='view' GROUP BY user_id),
             p AS (SELECT user_id, MIN(ts) mp
                   FROM '{sf_dir}/events.parquet'
                   WHERE event_type='purchase' GROUP BY user_id)
        SELECT COUNT(*) FROM v JOIN p USING (user_id) WHERE p.mp > v.mv
        """
    ).fetchone()[0]
    assert got > 0


def test_unigram_viterbi_beats_greedy():
    """The DP must find the global optimum where greedy longest-first
    fails: with ab=10, bcd=100 and singles at 1, greedy consumes 'ab'
    first and can only reach ab,c,d = 12, while Viterbi finds
    a,bcd = 101 — the case that separates Unigram-LM from WordPiece."""
    from flink_1_19_source_spark.operators.corpus import (
        unigram_viterbi_segment,
    )

    w = {"a": 1, "b": 1, "c": 1, "d": 1, "ab": 10, "bcd": 100}
    assert unigram_viterbi_segment("abcd", w) == ["a", "bcd"]


def test_unigram_viterbi_tie_prefers_longest_piece():
    """Equal total weight -> the forward walk takes the LONGEST piece
    achieving the optimum at each cursor (the oracle's CASE 4..1)."""
    from flink_1_19_source_spark.operators.corpus import (
        unigram_viterbi_segment,
    )

    # ab=2 exactly equals a+b=1+1; the walk must resolve the residual
    # tie toward the single longer piece (the production weights also
    # carry the -1 fewer-pieces device, pinned separately below)
    w = {"a": 1, "b": 1, "ab": 2}
    assert unigram_viterbi_segment("ab", w) == ["ab"]


def test_unigram_fewer_pieces_wins_via_weight_minus_one():
    """The production weights are bit_length(cnt)*64 - 1: the -1 term
    charges each extra piece, so equal-evidence splits resolve toward
    fewer pieces — but STRONGER evidence must still beat piece count,
    which this crafted vocabulary checks (split total 510 > single
    447)."""
    from flink_1_19_source_spark.operators.corpus import (
        unigram_viterbi_segment,
    )

    w = {"a": 255, "b": 255, "ab": 447}
    assert unigram_viterbi_segment("ab", w) == ["a", "b"]


def test_gif_lzw_roundtrip_fuzz():
    """GIF LZW + container roundtrip across palette sizes, interlace,
    and degenerate dims — decoded RGB must equal the palette lookup of
    the source indices exactly (GIF is lossless)."""
    import random

    from flink_1_19_source_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    rnd = random.Random(7)
    for _ in range(25):
        w, h = rnd.randint(1, 40), rnd.randint(1, 40)
        npal = rnd.choice([4, 16, 64, 256])
        pal = [
            (rnd.randrange(256), rnd.randrange(256), rnd.randrange(256))
            for _ in range(npal)
        ]
        idx = [rnd.randrange(npal) for _ in range(w * h)]
        inter = rnd.random() < 0.5
        w2, h2, rgb = decode_gif(encode_gif(idx, w, h, pal, interlace=inter))
        want = b"".join(bytes(pal[p]) for p in idx)
        assert (w2, h2) == (w, h) and rgb == want


def test_gif_lzw_table_overflow_clear():
    """Random 256-palette 100x100 image forces the dictionary past 4096
    entries, so the encoder must emit a mid-stream CLEAR and the decoder
    must rebuild — the path a small image never exercises."""
    import random

    from flink_1_19_source_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    rnd = random.Random(3)
    pal = [(i, (2 * i) % 256, (3 * i) % 256) for i in range(256)]
    idx = [rnd.randrange(256) for _ in range(100 * 100)]
    w, h, rgb = decode_gif(encode_gif(idx, 100, 100, pal))
    want = b"".join(bytes(pal[p]) for p in idx)
    assert (w, h) == (100, 100) and rgb == want


def test_gif_kwkwk_case():
    """'ababab…' makes the decoder hit code == next_code (the KwKwK
    self-referential entry) on the very first growth step."""
    from flink_1_19_source_spark.operators.gif_codec import (
        decode_gif,
        encode_gif,
    )

    pal = [(9, 9, 9), (200, 100, 50), (1, 2, 3), (4, 5, 6)]
    idx = [0, 1] * 800
    w, h, rgb = decode_gif(encode_gif(idx, 40, 40, pal))
    assert rgb == b"".join(bytes(pal[p]) for p in idx)


def test_adpcm_expander_reference_vectors():
    """Pin the IMA expander against hand-computed steps: from (pred=0,
    idx=0, step=7): nib=4 -> diff = step>>3 (0) + step (7) = 7, so
    pred=7; index delta = INDEX_TABLE[4] = +2."""
    from flink_1_19_source_spark.operators.adpcm_codec import expand_nibble

    assert expand_nibble(0, 0, 4) == (7, 2)
    # sign bit: nib=12 = 8|4 -> pred -= 7, same index delta (12 & 7 = 4)
    assert expand_nibble(0, 0, 12) == (-7, 2)
    # clamping both rails and the index ceiling
    assert expand_nibble(32767, 88, 7)[0] == 32767
    assert expand_nibble(-32768, 88, 15)[0] == -32768
    assert expand_nibble(0, 0, 0) == (0, 0)  # idx floor: 0 + (-1) -> 0


def test_adpcm_wav_container_roundtrip():
    """Container-level: encode explicit blocks, decode, and replay the
    expander directly — every sample including each block-header sample
    must match."""
    from flink_1_19_source_spark.operators.adpcm_codec import (
        decode_adpcm_wav,
        encode_adpcm_wav,
        expand_nibble,
    )

    blocks, want = [], []
    for blk in range(3):
        pred0, idx0 = (blk * 900 - 1000), (blk * 30) % 89
        nibs = [(blk * 5 + j * 3) % 16 for j in range(64)]
        blocks.append((pred0, idx0, nibs))
        p, ix = pred0, idx0
        want.append(p)
        for nb in nibs:
            p, ix = expand_nibble(p, ix, nb)
            want.append(p)
    rate, ch, got = decode_adpcm_wav(encode_adpcm_wav(blocks))
    assert (rate, ch) == (8000, 1) and got == want


def test_perceptron_converges_on_separable_data(spark):
    """Novikoff's guarantee: on a linearly separable planted set the
    batch perceptron must reach zero training errors — run the same
    update rule the query uses (margin <= 0, integer sums) on a planted
    corpus and require 100% accuracy, so the oracle equality is not
    certifying a degenerate always-one-class model."""
    rows = []
    # plant: class +1 has f1 > f2, class -1 has f1 < f2, wide margin
    for i in range(40):
        rows.append((i, 1, 20 + i % 5, 3 + i % 3))
        rows.append((100 + i, -1, 2 + i % 3, 25 + i % 5))
    df = spark.createDataFrame(rows, "doc_id long, y long, f1 long, f2 long")
    from pyspark.sql import functions as F

    w, b = [0, 0], 0
    for _ in range(20):
        margin = F.col("f1") * F.lit(w[0]) + F.col("f2") * F.lit(w[1]) + F.lit(b)
        mis = df.filter(F.col("y") * margin <= 0)
        s = mis.agg(
            F.sum(F.col("y") * F.col("f1")).alias("d1"),
            F.sum(F.col("y") * F.col("f2")).alias("d2"),
            F.sum("y").alias("db"),
        ).collect()[0]
        if s["d1"] is None:
            break  # no misclassifications left
        w[0] += int(s["d1"]); w[1] += int(s["d2"]); b += int(s["db"])
    margin = F.col("f1") * F.lit(w[0]) + F.col("f2") * F.lit(w[1]) + F.lit(b)
    errs = df.filter(F.col("y") * margin <= 0).count()
    assert errs == 0, (w, b, errs)


def test_color_progressive_equals_baseline_decode():
    """Progressive and baseline are two ENCODINGS of the same
    coefficients: decoding each must produce identical pixels — this
    exercises the progressive color path's interleaved DC scan,
    per-component EOBRUN AC scans and non-16-aligned crop against the
    independently-certified baseline color path, including nonzero AC
    bands the closed-form oracle can't reach."""
    import random

    from flink_1_19_source_spark.operators.jpeg_codec import decode_jpeg
    from flink_1_19_source_spark.operators.jpeg_encode import (
        encode_jpeg_color_420, encode_jpeg_color_progressive_420,
    )

    rnd = random.Random(11)
    for trial in range(10):
        mw, mh = rnd.randint(1, 3), rnd.randint(1, 2)
        w = max(16 * (mw - 1) + 1, 16 * mw - rnd.randint(0, 15))
        h = max(16 * (mh - 1) + 1, 16 * mh - rnd.randint(0, 15))

        def blk():
            b = [0] * 64
            b[0] = rnd.randint(-200, 200)
            for _ in range(rnd.randint(0, 6)):
                b[rnd.randint(1, 63)] = rnd.randint(-60, 60)
            return b

        y = [blk() for _ in range(4 * mw * mh)]
        cb = [blk() for _ in range(mw * mh)]
        cr = [blk() for _ in range(mw * mh)]
        base = decode_jpeg(encode_jpeg_color_420(y, cb, cr, mw, mh, w, h))
        prog = decode_jpeg(
            encode_jpeg_color_progressive_420(y, cb, cr, mw, mh, w, h)
        )
        assert base == prog, f"trial {trial}: {w}x{h} mismatch"


def test_webp_lossless_roundtrip_fuzz():
    """VP8L roundtrip across content styles: noise (literal path), flat
    runs (LZ77 1D), gradients, and vertical stripes (2D neighborhood
    distances), with and without subtract-green."""
    import random

    from flink_1_19_source_spark.operators.webp_codec import (
        decode_webp_lossless,
        encode_webp_lossless,
    )

    rnd = random.Random(5)
    for trial in range(24):
        w, h = rnd.randint(1, 60), rnd.randint(1, 50)
        style = trial % 4
        px = bytearray()
        for i in range(w * h):
            if style == 0:
                px += bytes([rnd.randrange(256) for _ in range(3)])
            elif style == 1:
                px += bytes([(i // 17 * 37) % 256, (i // 23 * 11) % 256,
                             (i // 31 * 7) % 256])
            elif style == 2:
                px += bytes([i % 256, (2 * i) % 256, (3 * i) % 256])
            else:
                px += bytes([((i % w) // 3 * 50) % 256, 100,
                             ((i % w) // 3 * 20) % 256])
        sg = rnd.random() < 0.5
        got = decode_webp_lossless(
            encode_webp_lossless(bytes(px), w, h, subtract_green=sg)
        )
        assert got == (w, h, bytes(px)), (trial, style, sg, w, h)


def test_webp_code_length_code_depth_capped():
    """The code-length code's own lengths travel in 3-bit fields: a
    symbol-rich code (many distinct lengths) must still produce CL
    depths <= 7 — the depth-limited Huffman's reason to exist."""
    import random

    from flink_1_19_source_spark.operators.webp_codec import (
        _BitReader,
        _BitWriter,
        _read_code_lengths,
        _write_code_lengths,
    )

    rnd = random.Random(9)
    for _ in range(100):
        lengths = [0] * 280
        for s in range(280):
            if rnd.random() < 0.3:
                lengths[s] = rnd.randint(1, 12)
        bw = _BitWriter()
        _write_code_lengths(bw, lengths)
        assert _read_code_lengths(_BitReader(bw.flush()), 280) == lengths


def test_webp_decoder_rejects_out_of_subset():
    """Subset contract: predictor transform / color cache raise cleanly
    (ValueError), never misdecode."""
    import pytest

    from flink_1_19_source_spark.operators.webp_codec import (
        _BitWriter,
        decode_webp_lossless,
    )
    import struct

    bw = _BitWriter()
    bw.bits(0x2F, 8)
    bw.bits(3, 14)
    bw.bits(3, 14)
    bw.bits(0, 1)
    bw.bits(0, 3)
    bw.bits(1, 1)  # transform present
    bw.bits(0, 2)  # PREDICTOR — out of subset
    payload = bw.flush()
    vp8l = b"VP8L" + struct.pack("<I", len(payload)) + payload
    riff = b"WEBP" + vp8l
    data = b"RIFF" + struct.pack("<I", len(riff)) + riff
    with pytest.raises(ValueError, match="out of subset"):
        decode_webp_lossless(data)


def test_star_cc_equals_propagation_on_path(spark):
    """The two-phase star algorithm must produce the identical
    (id, component) map as min-label propagation — pinned on the
    adversarial shape that separates their ROUND bounds: a 64-node
    path (diameter 63).  Star converges in O(log n) alternations;
    propagation needs ~63 rounds: its max_iter=20 default does NOT
    converge here (which is exactly why the star variant exists) and
    must raise rather than return partial labels."""
    import pytest

    from flink_1_19_source_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = [(i, i + 1) for i in range(63)] + [(100, 101), (103, 103)]
    df = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="max_iter=20"):
        connected_components(df)
    star = {
        (r.id, r.component)
        for r in connected_components_star(df).collect()
    }
    prop = {
        (r.id, r.component)
        for r in connected_components(df, max_iter=70).collect()
    }
    assert star == prop
    # every path node lands in component 0
    assert all(c == 0 for i, c in star if i <= 63)
    assert (101, 100) in star


def test_punctuated_watermark_bound_is_not_the_heuristic(sf_dir):
    """Non-vacuity: at sf0.001 the max-marker bound and the usual
    max-ts-minus-delay heuristic close DIFFERENT window sets (trailing
    non-marker events extend past the last marker), so the punctuated
    query certifies its own semantics, not the periodic generator's."""
    import duckdb

    n_punct, n_heur = duckdb.sql(
        f"""
        WITH e AS (SELECT * FROM '/root/testdata/sf0.001/events.parquet'),
        wm_p AS (SELECT MAX(ts) w FROM e WHERE event_type='error'),
        wm_h AS (SELECT MAX(ts) - INTERVAL 10 MINUTE w FROM e),
        agg AS (SELECT event_type, time_bucket(INTERVAL '1 hour', ts) ws
                FROM e WHERE event_type <> 'error' GROUP BY 1, 2)
        SELECT (SELECT COUNT(*) FROM agg, wm_p
                WHERE ws + INTERVAL '1 hour' <= wm_p.w),
               (SELECT COUNT(*) FROM agg, wm_h
                WHERE ws + INTERVAL '1 hour' <= wm_h.w)
        """
    ).fetchone()
    assert n_punct < n_heur, (n_punct, n_heur)


def test_punctuated_watermark_crash_replay_converges(spark, sf_dir):
    """X4 for the punctuated generator: a crash injected AFTER the
    output append (marker + state + output all mutated, batch
    uncommitted), then a restart on the same checkpoint, must converge.
    This is exactly the replay that loses windows if wm_prev is
    recomputed from a marks log that already contains the replayed
    batch's own marker — the per-batch wm_prev ledger makes it stable.
    Crash at batch 1: the first batch past the initial marker, so the
    replayed batch has a nonempty newly-closed window set to lose."""
    from flink_1_19_source_spark.queries.streaming_joins2 import (
        _punctuated_wm_run,
    )

    def snap(**kw):
        return sorted(
            (r.event_type, r.window_start, r.n, r.total)
            for r in _punctuated_wm_run(spark, sf_dir, **kw).collect()
        )

    clean = snap()
    assert clean, "no windows closed — test is vacuous"
    assert snap(crash_once_at=1) == clean


def test_iterative_prepass_is_exact(spark, sf_dir):
    """The Catalyst dead-row prepass in match_recognize_iterative must
    be invisible: the operator's output equals a reference scan that
    drives the SAME step function over every row, unpruned.  Also pins
    non-vacuity — the prepass must actually drop rows on this data,
    else the 100x scale fix is a no-op."""
    from flink_1_19_source_spark.operators import cep
    from flink_1_19_source_spark.queries.cep2 import _iter_symbol
    from flink_1_19_source_spark.tables import load_table

    e = load_table(spark, sf_dir, "events")
    got = sorted(
        (r.user_id, r.match_no, r.start_id, r.end_id, r.b_rows,
         r.anchor_value, r.end_value)
        for r in cep.match_recognize_iterative(
            e, "user_id", "ts", "event_id", "value", _iter_symbol()
        ).withColumnRenamed("key", "user_id").collect()
    )

    pdf = e.select(
        "user_id", "ts", "event_id", "value", _iter_symbol().alias("sym")
    ).toPandas().sort_values(["user_id", "ts", "event_id"])
    want = []
    for uid, g in pdf.groupby("user_id", sort=True):
        st, n = cep.ITER_SEEK, 0
        for sym, val, rid, ts in zip(
            g["sym"], g["value"], g["event_id"],
            g["ts"].astype("int64") // 1000,
        ):
            st, m = cep.iterative_step(st, sym, float(val), int(rid), int(ts))
            if m is not None:
                n += 1
                want.append((uid, n, m[0], m[1], m[2], m[3], m[4]))
    assert got == sorted(want) and got

    # non-vacuity: the prepass must actually drop a large share of rows
    # on this data, else the 100x scale fix is a no-op
    from pyspark.sql import functions as F

    prepared = e.select(
        "user_id", "ts", "event_id", "value", _iter_symbol().alias("__sym")
    )
    survivors = cep.iterative_dead_row_prune(
        prepared, "user_id", "ts", "event_id", "value"
    ).count()
    total = e.count()
    assert survivors < total // 2, (survivors, total)


def test_match_recognize_statement_rejects_out_of_subset(spark, sf_dir):
    """SUBSET / SKIP TO / ALL ROWS PER MATCH raise cleanly from the
    statement path (their operator entry points are separate), a DEFINE
    outside literal equality raises rather than mis-parsing, and WITHIN
    (supported since r9) still raises for the one shape where the
    post-filter argument breaks — a repeated start variable."""
    import pytest

    from flink_1_19_source_spark.functions.flink_mr import (
        run_match_recognize,
    )
    from flink_1_19_source_spark.tables import register_views

    register_views(spark, sf_dir)
    base = """
        SELECT user_id FROM events
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES COUNT(*) AS n {extra}
          PATTERN (S C+ P)
          DEFINE S AS S.event_type = 'signup',
                 C AS C.event_type = 'click',
                 P AS P.event_type = 'purchase'
        ) AS mr
    """
    with pytest.raises(ValueError, match="SUBSET"):
        run_match_recognize(
            spark,
            base.replace(
                "PATTERN (S C+ P)", "PATTERN (S C+ P) SUBSET U = (S, C)"
            ).format(extra=""),
        )
    with pytest.raises(ValueError, match="repeated start"):
        run_match_recognize(
            spark,
            """
            SELECT user_id FROM events
            MATCH_RECOGNIZE (
              PARTITION BY user_id ORDER BY ts, event_id
              MEASURES COUNT(*) AS n
              PATTERN (S C+ S) WITHIN INTERVAL '1' HOUR
              DEFINE S AS S.event_type = 'signup',
                     C AS C.event_type = 'click'
            ) AS mr
            """,
        )
    with pytest.raises(ValueError, match="literal-equality"):
        run_match_recognize(
            spark,
            base.format(extra="").replace(
                "S.event_type = 'signup'", "S.value > 10"
            ),
        )
    # two DEFINE variables sharing a (column, literal) predicate would
    # silently classify first-wins — must raise as out-of-subset
    with pytest.raises(ValueError, match="overlap"):
        run_match_recognize(
            spark,
            base.format(extra="").replace(
                "C AS C.event_type = 'click'",
                "C AS C.event_type = 'signup'",
            ),
        )


def test_match_recognize_statement_or_define_and_bounded(spark, sf_dir):
    """OR-chained DEFINE (C matches click OR view) and a bounded
    quantifier parse and agree with the direct operator call."""
    from flink_1_19_source_spark.functions.flink_mr import (
        run_match_recognize,
    )
    from flink_1_19_source_spark.operators import cep
    from flink_1_19_source_spark.tables import load_table, register_views
    from pyspark.sql import functions as F

    register_views(spark, sf_dir)
    got = run_match_recognize(
        spark,
        """
        SELECT user_id, n FROM events
        MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY ts, event_id
          MEASURES COUNT(*) AS n
          PATTERN (S C{2,3} P)
          DEFINE S AS S.event_type = 'signup',
                 C AS C.event_type = 'click' OR C.event_type = 'view',
                 P AS P.event_type = 'purchase'
        ) AS mr
        """,
    )
    e = load_table(spark, sf_dir, "events")
    sym = (
        F.when(F.col("event_type") == "signup", "A")
        .when(F.col("event_type").isin("click", "view"), "B")
        .when(F.col("event_type") == "purchase", "C")
        .otherwise("X")
    )
    want = cep.match_recognize_measures(
        e, "user_id", "ts", "event_id", sym, "AB{2,3}C"
    )
    a = sorted((r.user_id, r.n) for r in got.collect())
    b = sorted((r.key, r.n_rows) for r in want.collect())
    assert a == b and a


def test_token_budget_epoch_cap_binds_for_some_sources(sf_dir):
    """Non-vacuity for n6_token_budget_epochs: the 4-epoch cap must
    BIND for at least one source and NOT bind for another, so both
    branches of the allocation (capped -> zero remainder, uncapped ->
    partial epoch) carry driver-certified evidence."""
    import duckdb

    capped, total = duckdb.sql(
        rf"""
        WITH per_doc AS (
          SELECT source,
                 CAST(len(list_filter(string_split_regex(LOWER(text),
                          '\s+'), t -> t <> '')) AS BIGINT) AS nt
          FROM '{sf_dir}/documents.parquet'
        ), src AS (SELECT source, SUM(nt) t FROM per_doc GROUP BY 1),
        tot AS (SELECT SUM(t) tt, COUNT(*) ns FROM src)
        SELECT SUM(CASE WHEN ((4*tot.tt)//tot.ns)//t >= 4
                        THEN 1 ELSE 0 END), COUNT(*)
        FROM src, tot
        """
    ).fetchone()
    assert 0 < capped < total, (capped, total)
