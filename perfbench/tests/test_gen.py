"""Generator determinism: the same seed gives byte-identical inputs, another
seed gives other inputs."""

from __future__ import annotations

import pytest

from perfbench import gen

GENERATORS = {
    "warehouse": lambda d, seed: gen.gen_warehouse(d, seed, 2_000),
    "corpus": lambda d, seed: gen.gen_corpus(d, seed, 300),
    "vectors": lambda d, seed: gen.gen_vectors(d, seed, 300, 20),
    "backlog": lambda d, seed: gen.gen_backlog(d, seed, 3, 200, gen.EventShape()),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, name):
    make = GENERATORS[name]
    a = make(str(tmp_path / "a"), 7)
    b = make(str(tmp_path / "b"), 7)
    c = make(str(tmp_path / "c"), 8)
    assert gen.dir_digest(a.dir) == gen.dir_digest(b.dir)
    assert gen.dir_digest(a.dir) != gen.dir_digest(c.dir)
    assert a.rows == b.rows and a.truth == b.truth


def test_live_event_batch_is_a_function_of_its_arguments():
    args = (7, 3, 100, 5_000, 1_800_000_000_000_000, 500_000, gen.EventShape(late_share=0.2))
    t1, late1 = gen.event_batch(*args, allow_late=True)
    t2, late2 = gen.event_batch(*args, allow_late=True)
    assert t1.equals(t2) and late1.tolist() == late2.tolist()
    assert len(late1) > 0
    _, none = gen.event_batch(*args, allow_late=False)
    assert len(none) == 0


def test_corpus_pairs_are_near_duplicates(tmp_path):
    inputs = gen.gen_corpus(str(tmp_path), 3, 400)
    import pyarrow.parquet as pq

    text = pq.read_table(f"{inputs.dir}/documents.parquet").column("text").to_pylist()
    assert inputs.truth["pairs"]
    for a, b in inputs.truth["pairs"]:
        wa, wb = text[a].split(" "), text[b].split(" ")
        assert len(wa) == len(wb)
        assert 1 <= sum(x != y for x, y in zip(wa, wb)) <= 2
