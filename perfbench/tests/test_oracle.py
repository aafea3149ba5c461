"""The benchmark's oracle against values worked out by hand on the 6-doc
corpus the engine's tests call tiny_docs (20 tokens, avgdl = 10/3)."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from perfbench.oracle import Oracle, same_ranking

TINY = {
    0: "a b c a",
    1: "b c d",
    2: "a a a b",
    3: "d e",
    4: "c c d e f",
    5: "a f",
}


@pytest.fixture(scope="module")
def oracle():
    rows = [(t, d, c) for d, text in TINY.items() for t, c in Counter(text.split()).items()]
    return Oracle.from_postings(*zip(*rows))


def test_single_term_by_hand(oracle):
    # "e": df = 2 of N = 6, idf = ln(4.5 / 2.5), qw = idf * (1 + 1.2)
    qw = math.log(1.8) * 2.2
    # doc 3: tf 1, len 2, L = 0.6 -> dtw = 1 / (1 + 1.2 * 0.8)
    # doc 4: tf 1, len 5, L = 1.5 -> dtw = 1 / (1 + 1.2 * 1.25)
    assert oracle.ranked_or(["e"]) == [(3, 0.659760542), (4, 0.517252265)]
    assert oracle.ranked_or(["e"])[0][1] == round(qw / 1.96, 9)


def test_duplicate_term_doubles_the_weight(oracle):
    assert oracle.ranked_or(["e", "e"]) == [(3, 1.319521084), (4, 1.03450453)]


def test_union_ranking_and_eps_clamp(oracle):
    # "a" has df = 3 = N/2, so its idf is clamped to eps = 1e-6
    assert oracle.ranked_or(["f", "e", "a"]) == [
        (4, 1.03450453),
        (5, 0.659761665),
        (3, 0.659760542),
        (2, 1.528e-06),
        (0, 1.325e-06),
    ]
    assert oracle.ranked_or(["f", "e", "a"], k=2) == [(4, 1.03450453), (5, 0.659761665)]


def test_conjunctive_and_boolean(oracle):
    assert oracle.ranked_and(["c", "d"]) == [(4, 2.137e-06), (1, 2.056e-06)]
    assert oracle.ranked_and(["c", "zzz"]) == []
    assert oracle.and_count(["c", "d", "c"]) == 2
    assert oracle.and_count(["zzz", "a"]) == 0
    assert oracle.or_count(["d", "e"]) == 3
    assert oracle.or_count(["zzz"]) == 0


def test_same_ranking_tolerates_one_rounding_quantum():
    want = [(3, 0.659760542), (4, 0.517252265)]
    assert same_ranking([(3, 0.659760543), (4, 0.517252265)], want)
    assert not same_ranking([(3, 0.659760545), (4, 0.517252265)], want)
    assert not same_ranking([(4, 0.517252265), (3, 0.659760542)], want)
    assert not same_ranking(want[:1], want)
