"""Unit tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()


def test_generators_are_byte_identical_for_a_seed(tmp_path):
    digests = []
    for run in ("a", "b"):
        base, queries = gen.embeddings(7, 500, 40)
        gen.write_vectors(str(tmp_path / run / "v"), np.arange(500), base, 3)
        ids, texts, planted = gen.corpus(7, 300, 30)
        vecs, _ = gen.corpus_embeddings(7, ids, planted, 5)
        gen.write_docs(str(tmp_path / run / "d"), ids, texts, vecs, 3)
        digests.append(
            (
                _digest(str(tmp_path / run / "v")),
                _digest(str(tmp_path / run / "d")),
                hashlib.sha256(queries.tobytes()).hexdigest(),
                tuple(planted),
            )
        )
    assert digests[0] == digests[1]
    other, _ = gen.embeddings(8, 500, 40)
    assert not np.array_equal(other, gen.embeddings(7, 500, 40)[0])


def test_corpus_plants_one_word_edits_with_near_identical_vectors():
    ids, texts, planted = gen.corpus(3, 200, 20)
    vecs, _ = gen.corpus_embeddings(3, ids, planted, 5)
    by_id = dict(zip(ids.tolist(), texts))
    row = {d: r for r, d in enumerate(ids.tolist())}
    assert len(planted) == 20 and sorted(ids.tolist()) == list(range(1, 221))
    for a, b in planted:
        wa, wb = by_id[a].split(), by_id[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1
        assert np.abs(vecs[row[a]] - vecs[row[b]]).max() < 0.01


def test_tail_rule_on_hand_made_samples():
    assert gen.tail([1.0] * 19) is None  # the median leaves only 9 above
    assert gen.tail(list(range(1, 21))) == (50.0, 10)  # 10 samples above 10
    assert gen.tail(list(range(1, 40))) == (50.0, 20)  # p75 would leave 9
    assert gen.tail(list(range(1, 41))) == (75.0, 30)
    assert gen.tail(list(range(1, 101))) == (90.0, 90)
    assert gen.tail(list(range(1, 1001))) == (99.0, 990)
    assert gen.tail(list(range(1, 10001))) == (99.9, 9990)
    assert gen.tail(list(range(100, 0, -1))) == (90.0, 90)  # order-free


def test_recall_at_10_on_a_hand_case():
    truth = {1: list(range(10)), 2: list(range(10, 20))}
    got = {1: [0, 1, 2, 3, 4, 99, 98, 97, 96, 95], 2: list(range(19, 9, -1))}
    assert gen.recall_at_k(got, truth) == pytest.approx((0.5 + 1.0) / 2)
    assert gen.recall_at_k({}, truth) == 0.0
    assert gen.recall_at_k({1: list(range(12))}, {1: list(range(10))}) == 1.0


def test_exact_topk_matches_a_full_sort():
    rng = np.random.default_rng(0)
    base, q = rng.normal(size=(300, 8)), rng.normal(size=(5, 8))
    want = np.argsort(((q[:, None, :] - base[None]) ** 2).sum(-1), axis=1)[:, :10]
    assert np.array_equal(gen.exact_topk(base, q), want)


def test_metric_names_and_spec_are_well_formed():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    for n in names + [w["name"] for w in spec["workloads"]]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n
    assert "setup_s" in names
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
