"""Numpy oracle for boolean, phrase and BM25 results.

Follows the engine's semantics on the `text` field (standard analyzer,
stopwords kept; the generated words tokenize to themselves):

- boolean and phrase results exclude tombstoned docs; NOT is taken
  against the live docs;
- a phrase matches when positions p_0 < ... < p_{k-1} carry its terms
  in order with (p_last - p_0) - (k - 1) <= slop;
- BM25 (k1=1.2, b=0.75) uses corpus statistics over every doc ever
  indexed, tombstoned ones included (deletes only mask candidates, as
  in the engine); scores add up over the query's distinct terms in
  sorted order; ties break by ascending doc id.
"""

from __future__ import annotations

import math

import numpy as np

from gen import Docs, Query

K1 = 1.2
B = 0.75
TOP_K = 10
#: relative score tolerance: the pruned scorer may add in another order
SCORE_RTOL = 1e-9


class Oracle:
    def __init__(self, vocab: np.ndarray):
        self.term_id = {str(w): i for i, w in enumerate(vocab)}
        self._tokens: list[np.ndarray] = []
        self._lens: list[np.ndarray] = []
        self._ids: list[np.ndarray] = []
        self.deleted: set[int] = set()
        self._built = False

    def add(self, docs: Docs, first_id: int) -> np.ndarray:
        """Index `docs` under ids first_id, first_id+1, ...; returns them."""
        ids = np.arange(first_id, first_id + docs.n, dtype=np.int64)
        self._tokens.append(docs.tokens)
        self._lens.append(np.diff(docs.offsets))
        self._ids.append(ids)
        self._built = False
        return ids

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)
        self._built = False

    def _build(self) -> None:
        if self._built:
            return
        toks = np.concatenate(self._tokens)
        self.dl = np.concatenate(self._lens).astype(np.int64)
        self.doc_ids = np.concatenate(self._ids)
        self.n_docs = len(self.doc_ids)
        self.avgdl = float(self.dl.sum()) / self.n_docs
        # flat token index → dense doc index; occurrences grouped by term
        self.doc_of = np.repeat(np.arange(self.n_docs), self.dl)
        self.order = np.argsort(toks, kind="stable")
        self.term_start = np.searchsorted(
            toks[self.order], np.arange(len(self.term_id) + 1)
        )
        dead = np.fromiter(self.deleted, dtype=np.int64, count=len(self.deleted))
        self.live = ~np.isin(self.doc_ids, dead)
        self._built = True

    def live_doc_ids(self) -> np.ndarray:
        self._build()
        return self.doc_ids[self.live]

    def _occ(self, term: str) -> np.ndarray:
        """Flat token positions of `term`, ascending."""
        t = self.term_id.get(term)
        if t is None:
            return np.empty(0, dtype=np.int64)
        return self.order[self.term_start[t] : self.term_start[t + 1]]

    def _docs(self, term: str) -> np.ndarray:
        """Dense indexes of docs containing `term` (tombstoned included)."""
        return np.unique(self.doc_of[self._occ(term)])

    def _phrase(self, terms: tuple[str, ...], slop: int) -> np.ndarray:
        # greedy chain: from each start, the earliest next occurrence of
        # each following term gives the smallest end, so a start matches
        # iff its greedy chain stays in the doc and within the slop
        start = self._occ(terms[0])
        ok = np.ones(len(start), dtype=bool)
        pos = start.copy()
        for term in terms[1:]:
            occ = self._occ(term)
            if len(occ) == 0:
                return np.empty(0, dtype=np.int64)
            j = np.searchsorted(occ, pos, side="right")
            ok &= j < len(occ)
            pos = occ[np.minimum(j, len(occ) - 1)]
        ok &= (pos - start) - (len(terms) - 1) <= slop
        ok &= self.doc_of[pos] == self.doc_of[start]
        return np.unique(self.doc_of[start[ok]])

    def boolean(self, q: Query) -> np.ndarray:
        """Sorted live doc ids matching a boolean or phrase query."""
        self._build()
        if q.kind == "and":
            hit = self._docs(q.terms[0])
            for t in q.terms[1:]:
                hit = np.intersect1d(hit, self._docs(t))
        elif q.kind == "or":
            hit = np.unique(np.concatenate([self._docs(t) for t in q.terms]))
        elif q.kind == "andnot":
            hit = np.setdiff1d(self._docs(q.terms[0]), self._docs(q.terms[1]))
        elif q.kind == "phrase0":
            hit = self._phrase(q.terms, 0)
        elif q.kind == "phrase2":
            hit = self._phrase(q.terms, 2)
        else:
            raise ValueError(q.kind)
        hit = hit[self.live[hit]]
        return np.sort(self.doc_ids[hit])

    def bm25_ranked(self, terms: tuple[str, ...], mode: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, scores) of every live candidate, best first."""
        self._build()
        uniq = sorted(set(terms))
        scores = np.zeros(self.n_docs, dtype=np.float64)
        hits = np.zeros(self.n_docs, dtype=np.int32)
        present = 0
        dls = self.dl.astype(np.float64)
        for term in uniq:  # sorted: the engine's summation order
            occ_docs = self.doc_of[self._occ(term)]
            if len(occ_docs) == 0:
                continue
            present += 1
            ids, tf = np.unique(occ_docs, return_counts=True)
            tfs = tf.astype(np.float64)
            df = len(ids)
            idf = math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))
            norm = tfs / (tfs + K1 * (1.0 - B + B * dls[ids] / self.avgdl))
            scores[ids] += idf * norm
            hits[ids] += 1
        if mode == "and":
            if present < len(uniq):
                cand = np.empty(0, dtype=np.int64)
            else:
                cand = np.flatnonzero(hits == len(uniq))
        else:
            cand = np.flatnonzero(hits > 0)
        cand = cand[self.live[cand]]
        s = scores[cand]
        order = np.lexsort((self.doc_ids[cand], -s))
        return self.doc_ids[cand[order]], s[order]

    def check_bm25(
        self, terms: tuple[str, ...], mode: str, got: list[tuple[int, float]], k: int = TOP_K
    ) -> bool:
        """True when `got` (the engine's top-k rows, in order) matches
        the oracle up to float noise: scores agree position by position,
        and doc ids agree except inside a group of tied scores, where
        any member of the (possibly longer) tie group is accepted."""
        ids, scores = self.bm25_ranked(terms, mode)
        if len(got) != min(k, len(ids)) or len({d for d, _ in got}) != len(got):
            return False
        for i, (doc, score) in enumerate(got):
            if not math.isclose(score, scores[i], rel_tol=SCORE_RTOL, abs_tol=1e-12):
                return False
            if doc != ids[i]:
                tied = np.isclose(scores, scores[i], rtol=SCORE_RTOL, atol=1e-12)
                if doc not in set(ids[tied].tolist()):
                    return False
        return True
