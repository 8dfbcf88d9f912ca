"""Pure-Python oracles for the pytest parity suites (SURVEY.md §5).

- `BruteForceIndex`: tokenizes a corpus with the same analyzer chain and
  evaluates boolean ASTs by brute-force set algebra over Python sets —
  the authority the Spark engine must match (reference query set from
  /root/reference/test/system/test-index.ts re-expressed).
- `bm25_oracle`: plain-Python BM25 (Lucene form, k1=1.2, b=0.75) with
  the same sorted-term summation order as the engine, so scores match
  to float64 exactness (tolerance 1e-9).
"""

from __future__ import annotations

import math
from collections import Counter

from yaii_spark.analyzer import tokenize, tokenize_all_field
from yaii_spark.queries import ast as A


def _has_phrase(tokens: list[str], terms: list[str], slop: int) -> bool:
    """Brute-force phrase check: ∃ positions p_0 < … < p_{k-1} with
    tokens[p_j] == terms[j] and (p_last − p_0) − (k−1) ≤ slop. O(n·k)
    exhaustive recursion — the authority the vectorized engine path
    must match."""
    if not terms:
        return False
    starts = [i for i, t in enumerate(tokens) if t == terms[0]]

    def extend(prev: int, j: int, start: int) -> bool:
        if j == len(terms):
            return (prev - start) - (len(terms) - 1) <= slop
        return any(
            extend(i, j + 1, start)
            for i in range(prev + 1, len(tokens))
            if tokens[i] == terms[j]
        )

    return any(extend(p, 1, p) for p in starts)


class BruteForceIndex:
    def __init__(self, docs: dict[int, str], attrs: dict[int, dict] | None = None):
        """docs: doc_id -> text; attrs: doc_id -> attribute dict."""
        self.docs = docs
        self.attrs = attrs or {doc_id: {} for doc_id in docs}
        # per-field token streams mirroring the default field map:
        # 'text' keeps stopwords, '_all' filters them (yaii £_ALL)
        self.field_tokens = {
            "text": {d: tokenize(t) for d, t in docs.items()},
            "_all": {d: tokenize_all_field(t) for d, t in docs.items()},
        }
        self.tokens = self.field_tokens["text"]
        self.all_ids = set(docs)

    def evaluate(self, node: A.Node) -> set[int]:
        if isinstance(node, A.Token):
            toks_by_doc = self.field_tokens.get(node.field_name, {})
            return {d for d, toks in toks_by_doc.items() if node.term in toks}
        if isinstance(node, A.Phrase):
            toks_by_doc = self.field_tokens.get(node.field_name, {})
            return {
                d
                for d, toks in toks_by_doc.items()
                if _has_phrase(toks, list(node.terms), node.slop)
            }
        if isinstance(node, A.TokenRange):
            toks_by_doc = self.field_tokens.get(node.field_name, {})

            def in_range(t):
                if node.lo is not None and (t < node.lo or (t == node.lo and not node.lo_inclusive)):
                    return False
                if node.hi is not None and (t > node.hi or (t == node.hi and not node.hi_inclusive)):
                    return False
                return True

            return {d for d, toks in toks_by_doc.items() if any(in_range(t) for t in toks)}
        if isinstance(node, A.TextContains):
            toks_by_doc = self.field_tokens.get(node.field_name, {})
            return {
                d for d, toks in toks_by_doc.items() if any(node.needle in t for t in toks)
            }
        if isinstance(node, A.All):
            return set(self.all_ids)
        if isinstance(node, A.NoneNode):
            return set()
        if isinstance(node, A.And):
            out = set(self.all_ids)
            for c in node.children:
                out &= self.evaluate(c)
            return out
        if isinstance(node, A.Or):
            out: set[int] = set()
            for c in node.children:
                out |= self.evaluate(c)
            return out
        if isinstance(node, A.Not):
            return self.all_ids - self.evaluate(node.child)
        if isinstance(node, A.NumberEq):
            return {
                d for d, a in self.attrs.items() if a.get(node.field_name) == node.value
            }
        if isinstance(node, A.NumberRange):
            out = set()
            for d, a in self.attrs.items():
                v = a.get(node.field_name)
                if v is None:
                    continue
                if node.lo is not None:
                    if v < node.lo or (v == node.lo and not node.lo_inclusive):
                        continue
                if node.hi is not None:
                    if v > node.hi or (v == node.hi and not node.hi_inclusive):
                        continue
                out.add(d)
            return out
        if isinstance(node, A.HasField):
            return {
                d for d, a in self.attrs.items() if a.get(node.field_name) is not None
            }
        raise TypeError(node)

    # ---- BM25 ----
    def bm25_topk(
        self, terms: list[str], k: int = 10, mode: str = "or",
        k1: float = 1.2, b: float = 0.75,
    ) -> list[tuple[int, float]]:
        uniq = sorted(set(terms))
        n = len(self.docs)
        dls = {d: len(t) for d, t in self.tokens.items()}
        avgdl = sum(dls.values()) / n
        tfs = {d: Counter(t) for d, t in self.tokens.items()}
        dfs = {t: sum(1 for c in tfs.values() if t in c) for t in uniq}
        present = [t for t in uniq if dfs[t] > 0]
        if mode == "and" and len(present) < len(uniq):
            return []
        scored = []
        for d in sorted(self.docs):
            hits = [t for t in present if tfs[d][t] > 0]
            if not hits:
                continue
            if mode == "and" and len(hits) < len(uniq):
                continue
            s = 0.0
            for t in sorted(hits):  # same summation order as the engine
                idf = math.log(1.0 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                tf = float(tfs[d][t])
                s += idf * (tf / (tf + k1 * (1.0 - b + b * dls[d] / avgdl)))
            scored.append((d, s))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]
