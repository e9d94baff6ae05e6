"""Seeded inputs: same seed -> same inputs; expectations consistent."""

import hashlib

from perfbench import inputs


def test_ingest_files_are_seed_deterministic():
    a = [inputs.file_bytes(inputs.file_spec(i, 3, 7), 3) for i in range(30)]
    b = [inputs.file_bytes(inputs.file_spec(i, 3, 7), 3) for i in range(30)]
    c = [inputs.file_bytes(inputs.file_spec(i, 4, 7), 3) for i in range(30)]
    assert a == b
    assert a != c


def test_ingest_plants_every_kind_and_bad_files():
    specs = [inputs.file_spec(i, 1, 7) for i in range(80)]
    kinds = {s.kind for s in specs}
    assert set(inputs.FILE_KINDS) <= kinds
    assert set(inputs.BAD_KINDS) <= kinds
    assert all(s.bad == (s.kind in inputs.BAD_KINDS) for s in specs)


def test_curate_corpus_expectations():
    c = inputs.curate_corpus(400, 9)
    assert inputs.curate_corpus(400, 9).rows == c.rows
    assert c.exact_pairs and c.near_pairs and c.near_expected
    texts = dict(c.rows)
    for a, b in c.exact_pairs:
        h = hashlib.md5(inputs.norm_text(texts[a]).encode()).hexdigest()
        assert c.exact_keep[h][1] >= 2
        assert c.exact_keep[h][0] <= min(a, b)

