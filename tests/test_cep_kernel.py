"""The regex CEP kernel without Spark: ``operators/cep.key_matcher`` (the
per-key function every batch regex operator runs) and the keyed-state
function of ``streaming/cep_stream.py`` that carries its residue across
micro-batches.  Chunked carry must equal the one-shot scan at any cut
for every registered streaming (pattern, skip, start_chars) combination."""

from __future__ import annotations

import random
import re

import pandas as pd
import pytest

from flink_1_19_source_spark.operators import cep
from flink_1_19_source_spark.streaming import cep_stream

_SKIP_TO_PATTERN = "C(?P<b1>B*)(?P<mid>C)(?P<b2>B*)(?P<last>C)"

# (id, alphabet, matcher kwargs, output schema, start_chars) of the
# streaming CEP queries
COMBOS = [
    ("lite_AB+C", "ABCX", dict(pattern="AB+C"), cep.MATCH_SCHEMA, "A"),
    ("skip_CB*C_next", "CBX",
     dict(pattern="CB*C", skip="to_next_row", count_syms=("B",)),
     cep.SKIP_SCHEMA, "C"),
    ("skip_CB*C_past", "CBX",
     dict(pattern="CB*C", skip="past_last_row", count_syms=("B",)),
     cep.SKIP_SCHEMA, "C"),
    ("quantifier", "SCVPX",
     dict(pattern="S[CV]{2,3}P", skip="to_next_row", count_syms=("C",)),
     cep.SKIP_SCHEMA, "S"),
    ("skip_to_last", "CBX",
     dict(pattern=_SKIP_TO_PATTERN, resume_group="last",
          subset_groups=("b2", "last")),
     cep.SKIP_TO_SCHEMA, "C"),
    ("exclusion", "ABCX", dict(pattern="A{-B+-}C", excl_rows=True),
     cep.EXCL_SCHEMA, "A"),
    ("reluctant", "SCPX",
     dict(pattern="S[CP]*?P", skip="past_last_row", count_syms=("C",)),
     cep.SKIP_SCHEMA, "S"),
]


class _State:
    """The slice of pyspark's GroupState the keyed-state function uses."""

    def __init__(self):
        self.value = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = value


def _sequence(rng, alphabet, n):
    syms = "".join(rng.choice(alphabet) for _ in range(n))
    ids = list(range(1000, 1000 + n))
    tss = [1_700_000_000_000_000 + 1000 * i + rng.randrange(1000)
           for i in range(n)]
    return syms, ids, tss


def _values(df: pd.DataFrame) -> list[tuple]:
    return [
        tuple(None if v is pd.NaT else v for v in row)
        for row in df.astype(object).itertuples(index=False)
    ]


def _stream(fn, syms, ids, tss, bounds):
    state, out = _State(), []
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        pdf = pd.DataFrame({
            "key": 7,
            "ts": pd.to_datetime(tss[lo:hi], unit="us"),
            "id": ids[lo:hi],
            "sym": list(syms[lo:hi]),
        })
        for frame in fn((7,), iter([pdf]), state):
            out += _values(frame)
    return out, state


@pytest.mark.parametrize(
    "alphabet,kwargs,schema,start_chars",
    [c[1:] for c in COMBOS], ids=[c[0] for c in COMBOS],
)
def test_chunked_carry_equals_one_shot(alphabet, kwargs, schema, start_chars):
    match = cep.key_matcher(**kwargs)
    fn = cep_stream._regex_state_factory(match, schema, start_chars, 4096)
    rng = random.Random(17)
    for _ in range(100):
        n = rng.randrange(41)
        syms, ids, tss = _sequence(rng, alphabet, n)
        rows, _, _ = match(7, syms, ids, tss, 0)
        want = _values(cep.rows_frame(rows, schema))
        cuts = sorted(rng.sample(range(n + 1), min(n + 1, rng.randrange(5))))
        got, _ = _stream(fn, syms, ids, tss, [0, *cuts, n])
        assert got == want, (syms, cuts)


@pytest.mark.parametrize(
    "pattern", ["AB+C", "CB*C", "S[CV]{2,3}P", "S[CP]*?P", "S[CP]*P"]
)
def test_past_last_row_equals_finditer(pattern):
    match = cep.key_matcher(pattern)
    rng = random.Random(3)
    for _ in range(300):
        syms, ids, tss = _sequence(rng, "ABCSPVX", rng.randrange(41))
        ids = list(range(len(syms)))
        rows, n, _ = match(7, syms, ids, tss, 0)
        spans = [(m.start(), m.end() - 1) for m in re.finditer(pattern, syms)]
        assert [(r[2], r[3]) for r in rows] == spans
        assert n == len(spans)


def test_to_next_row_matches_share_their_boundary_row():
    match = cep.key_matcher("CB*C", "to_next_row", count_syms=("B",))
    rows, n, cut = match(7, "CBCBC", [0, 1, 2, 3, 4], [0, 1, 2, 3, 4], 0)
    assert [r[1:6] for r in rows] == [(1, 0, 2, 3, 1), (2, 2, 4, 3, 1)]
    assert (n, cut) == (2, 3)


def test_empty_matches_emit_nothing_and_terminate():
    """A pattern that can match the empty string still ends its scan
    (the search position never stops advancing) and emits only matches
    that cover rows."""
    for skip in ("past_last_row", "to_next_row"):
        rows, _, _ = cep.key_matcher("B*", skip)(7, "ABB", [0, 1, 2],
                                                 [0, 1, 2], 0)
        assert [(r[2], r[3]) for r in rows] == (
            [(1, 2)] if skip == "past_last_row" else [(1, 2), (2, 2)]
        )


def test_max_buffer_keeps_the_newest_undecided_rows():
    """An A followed by an endless B run is one undecided partial match;
    the state keeps only the newest ``max_buffer`` rows of it."""
    fn = cep_stream._regex_state_factory(
        cep.key_matcher("AB+C"), cep.MATCH_SCHEMA, "A", 5
    )
    syms = "A" + "B" * 11
    ids = list(range(len(syms)))
    tss = [10 * i for i in range(len(syms))]
    rows, state = _stream(fn, syms, ids, tss, [0, 4, 12])
    kept_syms, kept_ids, kept_tss, n_emitted = state.value
    assert rows == [] and n_emitted == 0
    assert kept_syms == "BBBBB"
    assert kept_ids == ids[-5:] and kept_tss == tss[-5:]
