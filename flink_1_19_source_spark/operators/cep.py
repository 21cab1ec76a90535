"""MATCH_RECOGNIZE-lite: regex pattern matching over per-key event
sequences (SURVEY §2.9 X5; Flink CEP / SQL MATCH_RECOGNIZE, upstream
flink-libraries/flink-cep + flink-table-planner MatchRecognize nodes).

Events are grouped by key and ordered by (ts, id); each row is
classified to a single-character symbol, and a Python regex engine (a
compiled NFA — the same machinery Flink's CEP NFA implements in Java)
scans the per-key symbol string.  Pattern variables are named groups
(SKIP TO, SUBSET) and ``{- sub -}`` sections are row-pattern
exclusions.

This module is the single home of the regex CEP semantics for batch AND
streaming, the way Flink runs one NFA with one ``AfterMatchSkipStrategy``
for bounded and unbounded input:

- ``_scan`` is the one match loop: it yields every match with its
  span, its included (non-excluded) row positions and the position the
  AFTER MATCH SKIP policy resumes at — PAST LAST ROW, TO NEXT ROW or
  SKIP TO <variable>;
- ``key_matcher`` builds the per-key function on top of it:
  ``(key, syms, ids, tss_us, match_no) -> (rows, match_no, cut)`` with
  the MEASURES of one output row per match and ``cut`` = the last
  match's resume position (0 if there was none);
- the output schemas (``MATCH_SCHEMA``, ``SKIP_SCHEMA``,
  ``SKIP_TO_SCHEMA``, ``EXCL_SCHEMA``, ``ITER_SCHEMA``) live here and
  are the streaming twins' schemas too.

Batch operators run the per-key function once over each key's complete
sequence (``_scan_by_key``: one shuffle on the key, a partition-local
sort, linear per-key work; keys are independent, so 1000 executors each
match their own key ranges).  The streaming twin
(streaming/cep_stream.py) runs the SAME function over each key's
buffered undecided suffix per micro-batch and keeps only the residue
from ``cut`` (advanced to the first possible match-start symbol, capped
at ``max_buffer``).  Rows before ``cut`` can never start a later match
(the scan resumes there), and every match starts with a start symbol,
so the residue scan resumes exactly where the one-shot scan does.  The
carry is exact for prefix-stable patterns — a match found in a prefix
is the match of every longer sequence — which holds when the pattern's
last variable is a single unquantified row that no earlier variable can
absorb (``AB+C``, ``S[CP]*?P``); a greedy trailing quantifier (``S[CP]*P``)
is decidable only at the run boundary and stays batch-only.
"""

from __future__ import annotations

import re
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

_HEAD = [
    StructField("key", LongType()),
    StructField("match_no", LongType()),
    StructField("start_id", LongType()),
    StructField("end_id", LongType()),
    StructField("n_rows", LongType()),
]
_SPAN_TS = [
    StructField("first_ts", TimestampType()),
    StructField("last_ts", TimestampType()),
]

MATCH_SCHEMA = StructType(
    _HEAD
    + [
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
    ]
)

SKIP_SCHEMA = StructType(
    _HEAD + [StructField("b_rows", LongType())] + _SPAN_TS
)

SKIP_SCHEMA_BOTH = StructType(
    [StructField("skip_mode", StringType())] + list(SKIP_SCHEMA.fields)
)

SKIP_TO_SCHEMA = StructType(
    _HEAD
    + [StructField("s_rows", LongType())]
    + _SPAN_TS
    + [
        StructField("s_first_ts", TimestampType()),
        StructField("s_last_ts", TimestampType()),
    ]
)

EXCL_SCHEMA = StructType(
    _HEAD + [StructField("excl_rows", LongType())] + _SPAN_TS
)


# ---------------------------------------------------------------------------
# The regex CEP kernel (shared with streaming/cep_stream.py)
# ---------------------------------------------------------------------------

_EXCL_SECTION = re.compile(r"\{-\s*(.*?)\s*-\}")


def compile_exclusions(pattern: str) -> tuple["re.Pattern", list[str]]:
    """Translate row-pattern exclusion syntax ``{- sub -}`` into named
    groups so the matched-but-excluded spans can be subtracted from the
    measures.  Returns (compiled regex, exclusion group names); a
    pattern without exclusions compiles unchanged with no names.

    Documented limitation: an exclusion nested under an OUTER quantifier
    keeps only its final iteration's span (regex group semantics); the
    supported surface is exclusions at pattern top level — every shape
    the SQL:2016 examples and Flink's MATCH_RECOGNIZE docs show."""
    names: list[str] = []

    def repl(m: "re.Match") -> str:
        name = f"xcl{len(names)}"
        names.append(name)
        return f"(?P<{name}>{m.group(1)})"

    return re.compile(_EXCL_SECTION.sub(repl, pattern)), names


def subset_measures(
    m: "re.Match", subset_groups: tuple[str, ...]
) -> tuple[int, int | None, int | None]:
    """SUBSET union measures from a match's named-group spans:
    (COUNT(S.*), index of FIRST(S) row, index of LAST(S) row)."""
    spans = [
        (m.start(g), m.end(g))
        for g in subset_groups
        if m.start(g) != -1 and m.end(g) > m.start(g)
    ]
    s_rows = sum(e - st for st, e in spans)
    s_first = min(st for st, _ in spans) if spans else None
    s_last = max(e for _, e in spans) - 1 if spans else None
    return s_rows, s_first, s_last


def skip_to_resume(m: "re.Match", resume_group: str) -> int:
    """AFTER MATCH SKIP TO <variable> resume position (inclusive), with
    Flink's cannot-advance guard: a target at or before the match start
    (including a variable that did not participate) raises."""
    resume = m.start(resume_group)
    if resume <= m.start():
        raise ValueError(
            f"AFTER MATCH SKIP TO {resume_group} cannot advance "
            f"past the match start (Flink raises here too)"
        )
    return resume


# AFTER MATCH SKIP policies: match → resume position.  PAST LAST ROW
# never lets matches overlap (an empty match still advances one row);
# TO NEXT ROW resumes at the row after the match's FIRST row.
_SKIP = {
    "past_last_row": lambda m: max(m.start() + 1, m.end()),
    "to_next_row": lambda m: m.start() + 1,
}


def _scan(compiled: "re.Pattern", names: list[str], resume, s: str):
    """The regex match loop: scan ``s`` left to right and yield
    ``(match, start, end_inclusive, included_positions, resume)`` per
    match, with the exclusion groups ``names`` subtracted from the
    included positions and the next search starting at ``resume(m)``."""
    pos = 0
    while pos <= len(s):  # search() clamps pos > len(s) back to len(s)
        m = compiled.search(s, pos)
        if m is None:
            return
        a, end = m.span()
        spans = [m.span(n) for n in names if m.start(n) != -1]
        inc = (
            [i for i in range(a, end)
             if not any(lo <= i < hi for lo, hi in spans)]
            if spans else range(a, end)
        )
        pos = resume(m)
        yield m, a, end - 1, inc, pos


def exclusion_matches(
    compiled: "re.Pattern", names: list[str], s: str
) -> list[tuple[int, int, list[int]]]:
    """AFTER MATCH SKIP PAST LAST ROW scan: per match
    (start, end_inclusive, included_positions) with the excluded
    groups' spans subtracted."""
    return [
        (a, b, list(inc))
        for _, a, b, inc, _ in _scan(compiled, names, _SKIP["past_last_row"], s)
    ]


def key_matcher(
    pattern: str,
    skip: str = "past_last_row",
    *,
    resume_group: str | None = None,
    count_syms: tuple[str, ...] = (),
    subset_groups: tuple[str, ...] | None = None,
    excl_rows: bool = False,
):
    """The per-key MATCH_RECOGNIZE function every regex operator runs,
    batch and streaming: ``fn(key, syms, ids, tss_us, match_no) ->
    (rows, match_no, cut)``.

    ``syms`` is the key's (ts, id)-ordered symbol string with aligned
    row ``ids`` and epoch-µs ``tss_us``; ``match_no`` is the number of
    matches already emitted for the key.  AFTER MATCH SKIP is ``skip``
    (``past_last_row`` / ``to_next_row``) or, with ``resume_group``,
    SKIP TO that variable.  One row per match with included rows:
    ``key, match_no, start_id, end_id, n_rows``, then COUNT(s.*) per
    ``count_syms``, ``excl_rows`` (matched rows the exclusions removed)
    if asked, the SUBSET COUNT if ``subset_groups`` is given, the
    FIRST/LAST ts of the included rows, and the SUBSET's FIRST/LAST ts.
    A match whose rows are all excluded emits nothing but still
    consumes its span.  ``cut`` is the last match's resume position (0
    if there was none): no row before it can start a later match."""
    if resume_group is not None:
        def resume(m):
            return skip_to_resume(m, resume_group)
    elif skip in _SKIP:
        resume = _SKIP[skip]
    else:
        raise ValueError(f"unknown AFTER MATCH SKIP mode: {skip}")
    compiled, names = compile_exclusions(pattern)

    def fn(key, syms, ids, tss, match_no):
        rows, cut = [], 0
        # the loop leaves cut at the last match's resume position
        for m, a, b, inc, cut in _scan(compiled, names, resume, syms):
            if not inc:
                continue
            match_no += 1
            row = [key, match_no, ids[inc[0]], ids[inc[-1]], len(inc)]
            row += [syms.count(c, a, b + 1) for c in count_syms]
            if excl_rows:
                row.append(b + 1 - a - len(inc))
            if subset_groups is None:
                row += [tss[inc[0]], tss[inc[-1]]]
            else:
                s_rows, s_first, s_last = subset_measures(m, subset_groups)
                row += [
                    s_rows, tss[inc[0]], tss[inc[-1]],
                    None if s_first is None else tss[s_first],
                    None if s_last is None else tss[s_last],
                ]
            rows.append(tuple(row))
        return rows, match_no, cut

    return fn


def epoch_us(ts: pd.Series) -> list[int]:
    """A timestamp column as epoch-µs ints (NaT → int64 min)."""
    return ts.to_numpy("datetime64[us]").astype("int64").tolist()


def rows_frame(rows: list[tuple], schema: StructType) -> pd.DataFrame:
    """Output rows → a pandas frame for ``schema``: TimestampType fields
    arrive as epoch-µs ints (None → NaT), converted column-wise."""
    df = pd.DataFrame(rows, columns=schema.names)
    for i, f in enumerate(schema.fields):
        if isinstance(f.dataType, TimestampType):
            df[f.name] = np.array(
                [r[i] for r in rows], dtype="datetime64[us]"
            ).astype("datetime64[ns]")
    return df


def _scan_by_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    schema: StructType,
    match,
) -> DataFrame:
    """Run the per-key function ``match`` (see ``key_matcher``) over
    every key's complete (ts, id)-ordered sequence via ``mapInPandas``
    on key-sorted partitions instead of per-key ``applyInPandas``.

    With many short keys (the CEP norm: thousands of users, tens of
    rows each) ``groupBy().applyInPandas`` pays a ~2 ms Arrow
    round-trip AND a tiny output-DataFrame construction PER GROUP —
    measured as ~85% of several operators' sf0.1 runtime.  This runner
    keeps the same per-key semantics while amortizing both costs across
    a whole partition: one repartition on the key (the same single
    shuffle), a partition-local sort, a generator that slices contiguous
    key runs — buffering across Arrow batch boundaries so a key split by
    the batch size is still scanned whole — and ONE output DataFrame per
    input Arrow batch instead of one per key.  The batch scan starts
    every key at match 0 and has no residue, so ``cut`` is unused."""

    def run(pdf: pd.DataFrame) -> list[tuple]:
        rows, _, _ = match(
            int(pdf[key_col].iloc[0]),
            "".join(pdf["__sym"]),
            pdf[id_col].tolist(),
            epoch_us(pdf[ts_col]),
            0,
        )
        return rows

    def gen(batches):
        cur, buf = None, []

        def flush():
            if not buf:
                return []
            return run(
                pd.concat(buf, ignore_index=True) if len(buf) > 1 else buf[0]
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            keys = pdf[key_col].to_numpy()
            change = (np.flatnonzero(keys[1:] != keys[:-1]) + 1).tolist()
            starts = [0, *change]
            ends = [*change, len(pdf)]
            for s, e in zip(starts, ends):
                k = keys[s]
                seg = pdf.iloc[s:e]
                if cur is not None and k == cur:
                    buf.append(seg)
                    continue
                rows.extend(flush())
                cur, buf = k, [seg]
            if rows:
                yield rows_frame(rows, schema)
        rows = flush()
        if rows:
            yield rows_frame(rows, schema)

    prepared = df.select(
        F.col(key_col), F.col(ts_col), F.col(id_col), symbol.alias("__sym")
    )
    return (
        prepared.repartition(F.col(key_col))
        .sortWithinPartitions(key_col, ts_col, id_col)
        .mapInPandas(gen, schema)
    )


# ---------------------------------------------------------------------------
# Batch operators
# ---------------------------------------------------------------------------


def match_recognize_lite(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
) -> DataFrame:
    """Contiguous-pattern MATCH_RECOGNIZE over (key, time)-ordered events.

    `symbol` must evaluate to a single-character string per row; `pattern`
    is a regex over those characters (e.g. ``AB+C``). Returns one row per
    match with the matched span (AFTER MATCH SKIP PAST LAST ROW)."""
    return _scan_by_key(
        df, key_col, ts_col, id_col, symbol, MATCH_SCHEMA, key_matcher(pattern)
    )


def match_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
) -> DataFrame:
    """Aggregate-only MATCH_RECOGNIZE fast path: per-key match count and
    longest match length, entirely in Catalyst (no Python).

    The per-key symbol string is built with
    array_sort(collect_list(struct(ts, id, sym))) → concat — struct
    ordering gives the (ts, id) event order — and scanned with
    regexp_extract_all on the JVM. Left-to-right non-overlapping regex
    matching ≡ AFTER MATCH SKIP PAST LAST ROW, same as the NFA path.
    ~10× faster than match_recognize_lite when spans/ids aren't needed:
    one shuffle, whole-stage codegen, no per-key Python calls."""
    seq = (
        df.select(
            F.col(key_col).alias("key"),
            F.struct(F.col(ts_col), F.col(id_col), symbol.alias("sym")).alias("e"),
        )
        .groupBy("key")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["sym"]
                ),
            ).alias("s")
        )
    )
    # Column-API call (not string interpolation) so a pattern containing
    # quotes/backslashes can't break out of — or silently change — the SQL
    m = F.regexp_extract_all(F.col("s"), F.lit(pattern), F.lit(0))
    return (
        seq.select(
            "key",
            F.size(m).cast("long").alias("n_matches"),
            F.coalesce(
                F.array_max(F.transform(m, F.length)), F.lit(0)
            ).cast("long").alias("longest_match"),
        )
        .filter(F.col("n_matches") > 0)
    )


def match_recognize_measures(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    count_syms: tuple[str, ...] = (),
) -> DataFrame:
    """MATCH_RECOGNIZE with per-symbol MEASURES over an arbitrary pattern
    — alternations (``(C|V)`` ≡ ``[CV]``) and bounded quantifiers
    (``{m,n}``) included [docs: match_recognize#defining-a-pattern].

    MEASURES: ``n_rows`` (COUNT(*)) plus one ``n_<s>`` column per entry
    of ``count_syms`` (COUNT(s.*)), FIRST/LAST ts, start/end ids.
    Default AFTER MATCH SKIP PAST LAST ROW (non-overlapping, leftmost)."""
    schema = StructType(
        _HEAD
        + [StructField(f"n_{s.lower()}", LongType()) for s in count_syms]
        + _SPAN_TS
    )
    return _scan_by_key(
        df, key_col, ts_col, id_col, symbol, schema,
        key_matcher(pattern, count_syms=tuple(count_syms)),
    )


def match_recognize_skip(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    skip: str = "past_last_row",
    count_sym: str = "B",
) -> DataFrame:
    """MATCH_RECOGNIZE with an explicit AFTER MATCH SKIP mode + MEASURES.

    Flink's two overlap policies [docs: match_recognize#after-match-strategy]:

    - ``past_last_row`` (the default everywhere else in this module):
      resume the scan after the match's last row — matches never overlap.
    - ``to_next_row``: resume at the row after the match's FIRST row —
      matches may overlap (e.g. ``CB*C`` over ``CBCBC`` yields two
      matches sharing the middle C).

    MEASURES emitted per match: ``first_ts`` (FIRST(ts)), ``last_ts``
    (LAST(ts)), ``n_rows`` (COUNT(*)), ``b_rows`` (COUNT of the
    ``count_sym``-classified rows inside the match).

    ``skip="both"`` evaluates BOTH policies in the single per-key pass
    (the string scan is repeated task-locally; the data is shuffled and
    Arrow-transferred once) and prefixes each row with a ``skip_mode``
    column — for side-by-side policy comparison without a second job."""
    if skip != "both":
        return _scan_by_key(
            df, key_col, ts_col, id_col, symbol, SKIP_SCHEMA,
            key_matcher(pattern, skip, count_syms=(count_sym,)),
        )
    modes = [
        (mode, key_matcher(pattern, mode, count_syms=(count_sym,)))
        for mode in ("past_last_row", "to_next_row")
    ]

    def both(key, syms, ids, tss, match_no):
        rows = [
            (mode, *row)
            for mode, fn in modes
            for row in fn(key, syms, ids, tss, match_no)[0]
        ]
        return rows, match_no, 0

    return _scan_by_key(
        df, key_col, ts_col, id_col, symbol, SKIP_SCHEMA_BOTH, both
    )


def classify(mapping: dict[str, str], other: str = "X") -> Callable[[Column], Column]:
    """Build a classifier column: event_type value → one-char symbol."""

    def apply(col: Column) -> Column:
        expr = None
        for val, sym in mapping.items():
            cond = F.when(col == val, sym)
            expr = cond if expr is None else expr.when(col == val, sym)
        return expr.otherwise(other)

    return apply


def match_recognize_skip_to(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
    resume_group: str,
    subset_groups: tuple[str, ...],
) -> DataFrame:
    """MATCH_RECOGNIZE with ``AFTER MATCH SKIP TO <variable>`` and a
    ``SUBSET`` union measure [docs: match_recognize#after-match-strategy,
    #define--measures (SUBSET)].

    Pattern variables are regex NAMED GROUPS: ``resume_group`` names the
    variable the scan resumes AT after each match (inclusive — Flink's
    SKIP TO LAST <var>; the row can start the next match, which is how
    chained matches share their boundary row).  ``subset_groups`` is the
    SUBSET definition: the union of those variables' rows yields
    ``s_rows`` (COUNT(S.*)), ``s_first_ts`` (FIRST(S.ts)) and
    ``s_last_ts`` (LAST(S.ts)).

    Flink raises when a skip target cannot advance the scan (SKIP TO
    FIRST A on a match starting at A loops forever); the same guard
    raises here if the resume position is not strictly after the
    previous match's start."""
    return _scan_by_key(
        df, key_col, ts_col, id_col, symbol, SKIP_TO_SCHEMA,
        key_matcher(
            pattern, resume_group=resume_group, subset_groups=subset_groups
        ),
    )


def match_recognize_exclusion(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    symbol: Column,
    pattern: str,
) -> DataFrame:
    """MATCH_RECOGNIZE with row-pattern exclusions — ``{- B -}`` rows
    advance the automaton (they MUST be present for the match) but are
    dropped from the output/measures [ISO SQL:2016 row-pattern
    exclusion; the one MATCH_RECOGNIZE clause Flink 1.19's docs list as
    unsupported — implemented here to the standard's semantics].

    start_id/end_id/first_ts/last_ts/n_rows are computed over the
    INCLUDED rows only; ``excl_rows`` reports how many matched rows the
    exclusion removed.  A match whose rows are ALL excluded emits
    nothing (it still consumes its span — SKIP PAST LAST ROW)."""
    return _scan_by_key(
        df, key_col, ts_col, id_col, symbol, EXCL_SCHEMA,
        key_matcher(pattern, excl_rows=True),
    )


# ---------------------------------------------------------------------------
# Iterative conditions (Flink CEP IterativeCondition / MATCH_RECOGNIZE
# DEFINE referencing FIRST(<var>) — the condition of a row depends on the
# partial match it would extend, so rows CANNOT be pre-classified to
# symbols and regex-scanned like the paths above).
# ---------------------------------------------------------------------------

ITER_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("match_no", LongType()),
        StructField("start_id", LongType()),
        StructField("end_id", LongType()),
        StructField("b_rows", LongType()),
        StructField("anchor_value", DoubleType()),
        StructField("end_value", DoubleType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
    ]
)

# Automaton state for PATTERN (A B+ C) with iterative DEFINEs
#   B AS B.value > FIRST(A.value),   C AS C.value < FIRST(A.value)
# st = (phase, anchor_val, anchor_id, anchor_ts_us, b_count);
# phase 0 = seeking an A row, phase 1 = inside an attempt anchored at A.
ITER_SEEK = (0, 0.0, 0, 0, 0)


def iterative_step(st, sym: str, val: float, rid: int, ts_us: int):
    """One step of the iterative-condition NFA; shared by the batch scan
    and the streaming keyed-state twin so the semantics cannot diverge.

    Returns (new_state, match) where match is None or the tuple
    (start_id, end_id, b_rows, anchor_value, end_value, start_ts_us,
    end_ts_us).  An A row (re)anchors unconditionally — a fresh attempt
    supersedes a pending one, which together with the disjoint symbol
    alphabet makes the single forward pass exactly MATCH_RECOGNIZE's
    backtracking scan with AFTER MATCH SKIP PAST LAST ROW (no row inside
    a failed attempt can start a match except the failing row itself,
    and this step function restarts on that row when it is an A)."""
    phase, a_val, a_id, a_ts, b = st
    if sym == "A":
        return (1, val, rid, ts_us, 0), None
    if phase == 1:
        if sym == "B" and val > a_val:
            return (1, a_val, a_id, a_ts, b + 1), None
        if sym == "C" and b >= 1 and val < a_val:
            return ITER_SEEK, (a_id, rid, b, a_val, val, a_ts, ts_us)
    return ITER_SEEK, None


def match_recognize_iterative(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    symbol: Column,
) -> DataFrame:
    """MATCH_RECOGNIZE with ITERATIVE conditions — the Flink CEP
    ``IterativeCondition`` surface (SQL ``DEFINE B AS B.value >
    FIRST(A.value)``): a row's symbol validity depends on the match
    being built, so the engine evaluates conditions against the partial
    match (here: the anchoring A row's value) instead of pre-classifying.

    PATTERN (A B+ C), DEFINE B AS B.value > FIRST(A.value),
    C AS C.value < FIRST(A.value); one shuffle on the key, per-key work
    linear in sequence length, O(1) scan state — the same keyed layout
    Flink's CEP operator uses, and the same step function the streaming
    twin (streaming/cep_stream.streaming_match_iterative) runs
    incrementally.

    100 TB path, two layers (equivalence pinned by
    tests/test_r8_tail.py::test_iterative_prepass_is_exact):

    1. A Catalyst PREPASS eliminates dead rows before any Python runs,
       so the per-row interpreter cost is paid only on rows inside live
       attempts.  The invariant is exact, not heuristic: every A
       re-anchors, so within an anchor group (grp = running count of A
       rows) the automaton is live only until the first row that is not
       a condition-satisfying B — that row (the "breaker") either
       completes a match (a valid C) or kills the attempt, and every
       later row in the group is provably ignored (phase 0 until the
       next A, which starts the next group).  The prepass keeps
       anchor..breaker spans only — all running-frame window
       expressions over ONE key-partition sort, whole-stage-codegen'd.
    2. The Python scan runs as ``mapInPandas`` over key-sorted
       partitions, NOT per-key ``applyInPandas``: with many short keys
       the per-group Arrow round-trip (~2 ms each) dwarfs the scan
       itself (measured 3.4 s of a 3.8 s sf0.1 run).  One generator per
       partition amortizes it; the automaton state resets at key
       boundaries and carries across Arrow batch boundaries within a
       partition, still driven by the unchanged shared step function —
       the single source of semantics for batch and stream."""

    def scan(batches):
        cur_key, st, nmatch = None, ITER_SEEK, 0
        for pdf in batches:
            out = []
            # .tolist() first: element-wise Series iteration pays a
            # boxing cost per row that dominates long partitions
            for k, sym, val, rid, ts in zip(
                pdf[key_col].tolist(), pdf["__sym"].tolist(),
                pdf[value_col].tolist(), pdf[id_col].tolist(),
                epoch_us(pdf[ts_col]),
            ):
                if k != cur_key:
                    cur_key, st, nmatch = k, ITER_SEEK, 0
                st, m = iterative_step(
                    st, sym, float(val), int(rid), int(ts)
                )
                if m is not None:
                    nmatch += 1
                    out.append((int(cur_key), nmatch, *m))
            if out:
                yield rows_frame(out, ITER_SCHEMA)

    prepared = df.select(
        F.col(key_col), F.col(ts_col), F.col(id_col),
        F.col(value_col), symbol.alias("__sym"),
    )
    pruned = iterative_dead_row_prune(
        prepared, key_col, ts_col, id_col, value_col
    )
    return (
        pruned.repartition(F.col(key_col))
        .sortWithinPartitions(key_col, ts_col, id_col)
        .mapInPandas(scan, ITER_SCHEMA)
    )


def iterative_dead_row_prune(
    prepared: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Exact dead-row elimination for the iterative A B+ C automaton
    (see match_recognize_iterative's docstring): keep each anchor
    group's anchor..breaker span, drop everything the automaton provably
    ignores.  Input needs a ``__sym`` column; all running frames over
    one key-partitioned sort, no extra shuffle."""
    w = (
        W.partitionBy(key_col)
        .orderBy(ts_col, id_col)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_a = F.col("__sym") == "A"
    ok_b = (F.col("__sym") == "B") & (
        F.col(value_col) > F.col("__anchor_val")
    )
    return (
        prepared
        # anchor value = the most recent A row's value
        .withColumn(
            "__anchor_val",
            F.last(F.when(is_a, F.col(value_col)), ignorenulls=True).over(w),
        )
        # a non-anchor row that does not extend the B run breaks the
        # attempt (it is the closing-C candidate or a killer)
        .withColumn(
            "__bad", F.when(is_a | ok_b, F.lit(0)).otherwise(F.lit(1))
        )
        .withColumn("__cum_bad", F.sum("__bad").over(w))
        # cumulative bad count AT the most recent anchor (its own __bad
        # is 0), null before the first A
        .withColumn(
            "__anchor_cum",
            F.last(F.when(is_a, F.col("__cum_bad")), ignorenulls=True)
            .over(w),
        )
        # live rows: an anchor exists and no breaker precedes this row
        # within its group (the breaker itself survives)
        .filter(
            F.col("__anchor_cum").isNotNull()
            & (
                F.col("__cum_bad") - F.col("__bad") - F.col("__anchor_cum")
                == 0
            )
        )
        .select(key_col, ts_col, id_col, value_col, "__sym")
    )
