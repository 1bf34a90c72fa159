"""Seed determinism of every generated input."""

import hashlib
import os

from perfbench import inputs

TABLES = (*inputs.STAR_TABLES, "events", "documents")


def _digests(d: str) -> dict:
    return {
        fn: hashlib.sha256(open(os.path.join(d, fn), "rb").read()).hexdigest()
        for fn in sorted(os.listdir(d))
    }


def test_same_seed_gives_byte_identical_tables(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    inputs.write_tables(a, 7, 0.01, TABLES)
    inputs.write_tables(b, 7, 0.01, TABLES)
    inputs.write_tables(c, 8, 0.01, TABLES)
    assert _digests(a) == _digests(b)
    assert len(_digests(a)) == len(TABLES)
    differ = [t for t in _digests(a) if _digests(a)[t] != _digests(c)[t]]
    assert set(differ) == {f"{t}.parquet" for t in TABLES} - {"region.parquet", "nation.parquet"}


def test_corpora_are_deterministic_and_disjoint(tmp_path):
    inputs.write_corpus(str(tmp_path / "a"), 3, 0.01, 1)
    inputs.write_corpus(str(tmp_path / "b"), 3, 0.01, 1)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    t1 = inputs.documents_table(3, 0.01, key_offset=1 * inputs.CORPUS_STRIDE)
    t2 = inputs.documents_table(3, 0.01, key_offset=2 * inputs.CORPUS_STRIDE)
    assert not set(t1.column("doc_id").to_pylist()) & set(t2.column("doc_id").to_pylist())
    assert t1.column("text").to_pylist() != t2.column("text").to_pylist()


def test_request_rounds_cover_every_query_in_a_seeded_order():
    names = [f"q{i}" for i in range(43)]
    r0 = inputs.request_round(5, names, 0)
    assert sorted(r0) == sorted(names)
    assert r0 == inputs.request_round(5, names, 0)
    assert r0 != inputs.request_round(5, names, 1)
    assert r0 != inputs.request_round(6, names, 0)


def test_arrival_order_is_a_seeded_permutation():
    o = inputs.arrival_order(9, 5)
    assert sorted(o) == list(range(5))
    assert o == inputs.arrival_order(9, 5)
    assert len({tuple(inputs.arrival_order(s, 5)) for s in range(10)}) > 1


def test_events_span_the_requested_days():
    t = inputs.events_table(1, 0.05)
    days = {ts.date() for ts in t.column("ts").to_pylist()}
    assert len(days) == inputs.EVENT_DAYS
    assert t.column("ts").to_pylist() == sorted(t.column("ts").to_pylist())
