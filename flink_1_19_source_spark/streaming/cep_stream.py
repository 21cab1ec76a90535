"""Streaming MATCH_RECOGNIZE-lite: the CEP NFA over a keyed stream
(SURVEY §2.9 X5 streaming tier; Flink CEP NFA operator, upstream
flink-libraries/flink-cep NFA + SQL MatchRecognize exec nodes).

This module is keyed-state plumbing only.  The regex CEP semantics —
the match loop, every AFTER MATCH SKIP policy, exclusions, SUBSET and
the other MEASURES — and the output schemas live in operators/cep.py:
each streaming operator here runs the same ``key_matcher`` per-key
function as its batch twin, so batch and stream cannot diverge.

One keyed-state factory serves the four regex operators.  Per-key state
carries the undecided suffix of the symbol sequence (plus aligned row
ids and µs timestamps) and the number of matches emitted so far; each
micro-batch appends its rows in (ts, id) order, runs the per-key
function, emits every newly completed match, and keeps one residue:

- cut at the last match's resume position (0 if there was no match):
  the scan resumes there, so no earlier row can start a later match —
  PAST LAST ROW drops through the match end, TO NEXT ROW keeps from one
  past the match start, SKIP TO keeps from the resumed variable's row;
- advance to the first possible match-start symbol (``start_chars``):
  every match begins with one, so a skipped row can never begin one;
- cap at ``max_buffer`` rows for adversarial keys (Flink CEP bounds the
  same way via the WITHIN clause); overflow drops the oldest rows.

Emission is prefix-stable when a match found in a prefix of a key's
sequence is also the match of every longer sequence — true when the
pattern's last variable is a single unquantified row no earlier
variable can absorb (``AB+C``, ``CB*C``, ``S[CP]*?P``).  Then matches
are emitted exactly when their last row arrives and, with the replay
event-time-ordered, the union of emitted matches over the run equals
the batch scan's match set at any chunking — the convergence oracle.
A greedy trailing quantifier moves the match end with every further
row, so such patterns stay batch-only.

Scale shape: one shuffle on the key; state per key is O(longest pending
partial match), independent of history length. 1000 executors each own
their key ranges' NFA state — identical layout to Flink's keyed CEP.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame

from ..operators import cep as _cep_ops
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# undecided suffix: symbol string + aligned ids and µs timestamps, and
# the number of matches emitted so far (the last match_no)
MATCH_STATE = StructType(
    [
        StructField("syms", StringType()),
        StructField("ids", ArrayType(LongType())),
        StructField("tss", ArrayType(LongType())),
        StructField("n_emitted", LongType()),
    ]
)


def _regex_state_factory(
    match, schema: StructType, start_chars: str, max_buffer: int
):
    """The keyed-state function of every regex operator: run the
    per-key ``match`` (operators/cep.key_matcher) over the buffered
    suffix plus this micro-batch's rows, emit its rows as ``schema``,
    and keep the residue (module docstring)."""

    def fn(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        syms, ids, tss, match_no = (
            state.get if state.exists else ("", [], [], 0)
        )
        pdf = pd.concat(pdfs, ignore_index=True).sort_values(
            ["ts", "id"], kind="mergesort"
        )
        syms += "".join(pdf["sym"])
        ids = [*ids, *pdf["id"].tolist()]
        tss = [*tss, *_cep_ops.epoch_us(pdf["ts"])]
        rows, match_no, cut = match(int(key[0]), syms, ids, tss, match_no)
        cut = next(
            (i for i in range(cut, len(syms)) if syms[i] in start_chars),
            len(syms),
        )
        cut = max(cut, len(syms) - max_buffer)
        state.update((syms[cut:], ids[cut:], tss[cut:], match_no))
        yield _cep_ops.rows_frame(rows, schema)

    return fn


def _regex_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    schema: StructType,
    match,
    start_chars: str,
    max_buffer: int,
) -> DataFrame:
    prepared = sdf.select(
        sdf[key_col].alias("key"),
        sdf[ts_col].alias("ts"),
        sdf[id_col].alias("id"),
        symbol.alias("sym"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        _regex_state_factory(match, schema, start_chars, max_buffer),
        outputStructType=schema,
        stateStructType=MATCH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_match_recognize(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    start_chars: str,
    max_buffer: int = 4096,
) -> DataFrame:
    """Keyed streaming CEP: emits one row per completed `pattern` match,
    as soon as its closing row arrives (append semantics, AFTER MATCH
    SKIP PAST LAST ROW); twin of operators/cep.match_recognize_lite."""
    return _regex_stream(
        sdf, key_col, ts_col, id_col, symbol, _cep_ops.MATCH_SCHEMA,
        _cep_ops.key_matcher(pattern), start_chars, max_buffer,
    )


def streaming_match_skip(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    start_chars: str,
    skip: str = "past_last_row",
    count_sym: str = "B",
    max_buffer: int = 4096,
) -> DataFrame:
    """Skip-mode-aware streaming CEP twin of operators/cep.py's
    ``match_recognize_skip``: emits each match (with FIRST/LAST/COUNT
    measures) as its closing row arrives.  ``to_next_row`` keeps the
    buffer from one past the last match START (overlapping matches may
    still complete); ``past_last_row`` drops through the match end."""
    return _regex_stream(
        sdf, key_col, ts_col, id_col, symbol, _cep_ops.SKIP_SCHEMA,
        _cep_ops.key_matcher(pattern, skip, count_syms=(count_sym,)),
        start_chars, max_buffer,
    )


def streaming_match_skip_to(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    start_chars: str,
    resume_group: str,
    subset_groups: tuple[str, ...],
    max_buffer: int = 4096,
) -> DataFrame:
    """Streaming twin of operators/cep.match_recognize_skip_to: AFTER
    MATCH SKIP TO <variable> (resume AT the resumed variable's row —
    chained matches share their boundary row) with SUBSET union
    measures, on keyed state.  The buffer keeps from the resume
    position; a partial match's suffix survives across micro-batches
    and completes when its closing row arrives."""
    return _regex_stream(
        sdf, key_col, ts_col, id_col, symbol, _cep_ops.SKIP_TO_SCHEMA,
        _cep_ops.key_matcher(
            pattern, resume_group=resume_group, subset_groups=subset_groups
        ),
        start_chars, max_buffer,
    )


def streaming_match_exclusion(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    start_chars: str,
    max_buffer: int = 4096,
) -> DataFrame:
    """Keyed streaming MATCH_RECOGNIZE with row-pattern exclusions: the
    ``{- sub -}`` rows advance the incremental NFA but are dropped from
    the emitted measures; twin of
    operators/cep.match_recognize_exclusion."""
    return _regex_stream(
        sdf, key_col, ts_col, id_col, symbol, _cep_ops.EXCL_SCHEMA,
        _cep_ops.key_matcher(pattern, excl_rows=True),
        start_chars, max_buffer,
    )


# ---------------------------------------------------------------------------
# Time-constrained pattern (Pattern.followedBy().within()) on keyed state
# ---------------------------------------------------------------------------
PW_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("signup_event_id", LongType()),
        StructField("signup_ts", TimestampType()),
        StructField("purchase_ts", TimestampType()),
        StructField("latency_ms", LongType()),
    ]
)

# pending signups awaiting their first in-window purchase
PW_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("tss", ArrayType(LongType())),  # epoch µs
    ]
)


def _pw_factory(within_ms: int):
    within_us = within_ms * 1000

    def fn(key, pdfs, state: GroupState):
        ids, tss = (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        out = []
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "id"], kind="mergesort")
            for r in pdf.itertuples(index=False):
                rows.append((r.ts, int(r.id), r.sym))
        for ts, rid, sym in rows:
            ts_us = int(pd.Timestamp(ts).value // 1000)
            if sym == "S":
                ids.append(rid)
                tss.append(ts_us)
                continue
            # purchase: match every pending signup still inside its window
            # (its FIRST subsequent purchase is this one).  Invariant: a
            # purchase clears ALL pending signups — each pending is either
            # matched (inside the window) or expired (Flink's within-timer
            # purge); nothing can remain pending past a purchase.
            for sid, sts in zip(ids, tss):
                if ts_us - sts <= within_us:
                    out.append(
                        (
                            int(key[0]),
                            sid,
                            pd.to_datetime(sts, unit="us"),
                            pd.to_datetime(ts_us, unit="us"),
                            # per-timestamp ms floors, then subtract — the
                            # same arithmetic as epoch_ms(p) - epoch_ms(s)
                            ts_us // 1000 - sts // 1000,
                        )
                    )
            ids, tss = [], []
        state.update((ids, tss))
        yield pd.DataFrame(out, columns=[f.name for f in PW_OUTPUT.fields])

    return fn


def pattern_within_stream(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    within_ms: int,
) -> DataFrame:
    """Flink ``Pattern.begin(S).followedBy(P).within(t)`` on keyed state:
    pending S-events wait for their first subsequent P inside the window;
    a P closes every in-window pending (each S matches its first P), and
    expired pendings are purged — Flink's within-timer. Append output:
    one row per (S, first-in-window P)."""
    prepared = sdf.select(
        sdf[key_col].alias("key"),
        sdf[ts_col].alias("ts"),
        sdf[id_col].alias("id"),
        symbol.alias("sym"),
    ).filter(F.col("sym").isin("S", "P"))
    return prepared.groupBy("key").applyInPandasWithState(
        _pw_factory(within_ms),
        outputStructType=PW_OUTPUT,
        stateStructType=PW_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Iterative conditions on a keyed stream (Flink CEP IterativeCondition):
# the batch twin is operators/cep.match_recognize_iterative; BOTH run the
# same iterative_step automaton, so batch and stream cannot diverge.  The
# keyed state is the O(1) automaton tuple — no row buffer at all (contrast
# the regex paths above, which must retain the undecided suffix): an
# iterative A B+ C attempt is decidable row-by-row, which is exactly why
# Flink evaluates IterativeConditions eagerly inside the NFA.
# ---------------------------------------------------------------------------

ITER_STATE = StructType(
    [
        StructField("phase", LongType()),
        StructField("a_val", DoubleType()),
        StructField("a_id", LongType()),
        StructField("a_ts", LongType()),
        StructField("b_cnt", LongType()),
        StructField("n_emitted", LongType()),
    ]
)


def _iter_factory():
    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            phase, a_val, a_id, a_ts, b_cnt, match_no = state.get
            st = (int(phase), float(a_val), int(a_id), int(a_ts), int(b_cnt))
        else:
            st, match_no = _cep_ops.ITER_SEEK, 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "id"], kind="mergesort")
            for sym, val, rid, ts in zip(
                pdf["sym"].tolist(), pdf["val"].tolist(),
                pdf["id"].tolist(), _cep_ops.epoch_us(pdf["ts"]),
            ):
                st, m = _cep_ops.iterative_step(
                    st, sym, float(val), int(rid), int(ts)
                )
                if m is not None:
                    match_no += 1
                    out.append((int(key[0]), match_no, *m))
        state.update((st[0], st[1], st[2], st[3], st[4], match_no))
        yield _cep_ops.rows_frame(out, _cep_ops.ITER_SCHEMA)

    return fn


def streaming_match_iterative(
    sdf: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    symbol: Column,
) -> DataFrame:
    """Keyed streaming CEP with iterative DEFINE conditions
    (B.value > FIRST(A.value) / C.value < FIRST(A.value)); each match is
    emitted on the arrival of its closing C row (append semantics),
    keyed state is the constant-size automaton tuple."""
    prepared = sdf.select(
        sdf[key_col].alias("key"),
        sdf[ts_col].alias("ts"),
        sdf[id_col].alias("id"),
        sdf[value_col].alias("val"),
        symbol.alias("sym"),
    )
    return prepared.groupBy("key").applyInPandasWithState(
        _iter_factory(),
        outputStructType=_cep_ops.ITER_SCHEMA,
        stateStructType=ITER_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
