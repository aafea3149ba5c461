"""The benchmark's own answer key, with the reference semantics the
engine's pure-Python model (oracle/pyref.py) follows: BM25 with k1 = 1.2,
b = 0.5, idf clamped below at eps = 1e-6, the (1 + k1) factor, query-term
multiplicity as qtf for ranked queries, duplicate terms removed for
boolean ones, scores rounded to 9 decimals and ties broken by ascending
doc_id. Vectorized with NumPy so a few thousand queries check in seconds.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np

K1 = 1.2
B = 0.5
EPS = 1e-6
SCORE_DECIMALS = 9
# Two engines that sum the same partial scores in another order can land
# on either side of a rounding boundary: allow one quantum of the rounding.
SCORE_TOL = 1.01 * 10.0 ** -SCORE_DECIMALS


class Oracle:
    def __init__(self, lists: dict[str, tuple[np.ndarray, np.ndarray]], doc_len: np.ndarray):
        """lists: term -> (doc_ids ascending, tfs); doc_len: tokens per
        doc_id, 0 where no doc has the id."""
        self.lists = lists
        self.num_docs = int(np.count_nonzero(doc_len))
        self.norm = doc_len / (doc_len.sum() / self.num_docs)  # L = len / avgdl

    @classmethod
    def from_postings(cls, terms, doc_ids, tfs) -> "Oracle":
        """From a postings table's columns (term, doc_id, tf)."""
        names, code = np.unique(np.asarray(terms, dtype=str), return_inverse=True)
        doc_ids = np.asarray(doc_ids, dtype=np.int64)
        tfs = np.asarray(tfs, dtype=np.int64)
        order = np.lexsort((doc_ids, code))
        code, doc_ids, tfs = code[order], doc_ids[order], tfs[order]
        cuts = np.flatnonzero(np.diff(code)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(code)]))
        lists = {
            str(names[code[s]]): (doc_ids[s:e], tfs[s:e])
            for s, e in zip(starts, ends)
        }
        return cls(lists, np.bincount(doc_ids, weights=tfs))

    def _qw(self, qtf: int, df: int) -> float:
        idf = math.log((self.num_docs - df + 0.5) / (df + 0.5))
        return qtf * max(EPS, idf) * (1.0 + K1)

    def _score(self, terms: list[str]):
        score = np.zeros(len(self.norm), dtype=np.float64)
        hits = np.zeros(len(self.norm), dtype=np.int64)
        for t, q in Counter(terms).items():
            lst = self.lists.get(t)
            if lst is None:
                continue
            docs, tf = lst
            tf = tf.astype(np.float64)
            dtw = tf / (tf + K1 * ((1.0 - B) + B * self.norm[docs]))
            score[docs] += self._qw(q, len(docs)) * dtw
            hits[docs] += 1
        return score, hits

    def _top(self, score: np.ndarray, cand: np.ndarray, k: int) -> list[tuple[int, float]]:
        s = np.round(score[cand], SCORE_DECIMALS)
        order = np.lexsort((cand, -s))[:k]
        return [(int(cand[i]), float(s[i])) for i in order]

    def ranked_or(self, terms: list[str], k: int = 10) -> list[tuple[int, float]]:
        score, hits = self._score(terms)
        return self._top(score, np.flatnonzero(hits), k)

    def ranked_and(self, terms: list[str], k: int = 10) -> list[tuple[int, float]]:
        distinct = set(terms)
        if any(t not in self.lists for t in distinct):
            return []
        score, hits = self._score(terms)
        return self._top(score, np.flatnonzero(hits == len(distinct)), k)

    def and_count(self, terms: list[str]) -> int:
        distinct = set(terms)
        if any(t not in self.lists for t in distinct):
            return 0
        _, hits = self._score(list(distinct))
        return int((hits == len(distinct)).sum())

    def or_count(self, terms: list[str]) -> int:
        _, hits = self._score(list(set(terms)))
        return int((hits > 0).sum())


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc_ids in the same order, scores equal to 9 decimals."""
    return len(got) == len(want) and all(
        gd == wd and abs(gs - ws) <= SCORE_TOL for (gd, gs), (wd, ws) in zip(got, want)
    )
