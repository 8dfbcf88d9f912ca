"""Seeded corpus and query generator.

Everything the engine sees is made here from one seed: the vocabulary,
the documents (kept as token-id arrays for the numpy oracle and
rendered to text for the engine) and the query stream. The same seed
gives the same vocabulary, documents and queries.

Vocabulary: `vocab_size` distinct lowercase words (no stopwords), drawn
with Zipf-like frequency p(rank) ~ rank^-zipf_s. A fixed share of
tokens continues a bigram (each word has one seeded successor), so
phrase queries over torso terms have real hits.

Queries draw terms from three bands of the vocabulary by frequency
rank: head (the most frequent words), torso and tail (only words that
occur in the corpus, so a query term is never simply absent). A seeded
share of queries repeats an earlier query, the way popular queries do.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from yaii_spark.analyzer import STOPWORDS

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

#: query kinds → the operation class their latency is reported under
KIND_CLASS = {
    "and": "bool",
    "or": "bool",
    "andnot": "bool",
    "phrase0": "phrase",
    "phrase2": "phrase",
    "bm25_or": "bm25",
    "bm25_and": "bm25",
    "bm25_pruned": "bm25_pruned",
}
CLASSES = ("bool", "phrase", "bm25", "bm25_pruned")

ZIPF_S = 1.05  # p(rank) ~ rank^-ZIPF_S
BIGRAM_RATE = 0.2  # share of tokens that continue a bigram
REPEAT_FRAC = 0.3  # share of queries that repeat an earlier one


@dataclass(frozen=True)
class Query:
    kind: str
    terms: tuple[str, ...]

    @property
    def cls(self) -> str:
        return KIND_CLASS[self.kind]


@dataclass
class Docs:
    """A batch of documents as token ids: doc i owns
    tokens[offsets[i]:offsets[i+1]]."""

    tokens: np.ndarray  # int32 token ids into the vocabulary
    offsets: np.ndarray  # int64, len n + 1

    @property
    def n(self) -> int:
        return len(self.offsets) - 1

    def texts(self, vocab: np.ndarray) -> list[str]:
        words = vocab[self.tokens]
        return [
            " ".join(words[self.offsets[i] : self.offsets[i + 1]])
            for i in range(self.n)
        ]


class Generator:
    """Seeded source of vocabulary, documents and queries."""

    def __init__(self, seed: int, vocab_size: int = 2000, doc_len: tuple[int, int] = (80, 160)):
        rng = np.random.default_rng([seed, 0])
        self.vocab = self._make_vocab(rng, vocab_size)
        p = 1.0 / np.arange(1, vocab_size + 1, dtype=np.float64) ** ZIPF_S
        self.probs = p / p.sum()
        self.successor = rng.permutation(vocab_size).astype(np.int32)
        self.doc_len = doc_len
        # documents and queries come from separate streams so a change
        # in corpus size never shifts the query stream
        self._doc_rng = np.random.default_rng([seed, 1])
        self._query_rng = np.random.default_rng([seed, 2])

    @staticmethod
    def _make_vocab(rng: np.random.Generator, size: int) -> np.ndarray:
        # word length is fixed by rank (4..10 letters in turn) and only
        # the letters come from the seed, so text and index sizes per
        # token do not drift from seed to seed
        words: dict[str, None] = {}
        while len(words) < size:
            n = 4 + len(words) % 7
            w = "".join(rng.choice(_LETTERS, size=n))
            if w not in STOPWORDS:
                words[w] = None
        return np.array(list(words), dtype=object)

    def docs(self, n: int) -> Docs:
        rng = self._doc_rng
        lens = rng.integers(self.doc_len[0], self.doc_len[1] + 1, size=n)
        offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int64)
        total = int(offsets[-1])
        toks = rng.choice(len(self.vocab), size=total, p=self.probs).astype(np.int32)
        # bigram continuations: position i copies the successor of the
        # token before it; a continuation never follows another one and
        # never crosses a document start, so the pair is always intact
        cont = rng.random(total) < BIGRAM_RATE
        cont[offsets[:-1]] = False
        cont[1:] &= ~cont[:-1]
        idx = np.flatnonzero(cont)
        toks[idx] = self.successor[toks[idx - 1]]
        return Docs(toks, offsets)

    def query_stream(self, docs: Docs, mix: dict[str, float]) -> "QueryStream":
        return QueryStream(self._query_rng, self, docs, mix)


#: rank bands by generation probability, as shares of the vocabulary:
#: head = the top HEAD, torso = up to TORSO, tail = the rest
HEAD = 0.005
TORSO = 0.15


class QueryStream:
    """Seeded stream of `Query` values. Queries come in rounds holding
    one query of each class (`CLASSES`) in shuffled order, so every
    class is sampled in every run; within a class the kind is drawn by
    the weights in `mix` (kind → weight)."""

    def __init__(self, rng, gen: Generator, docs: Docs, mix: dict[str, float]):
        self.rng = rng
        self.vocab = gen.vocab
        self.docs = docs
        self.mix = mix
        v = len(gen.vocab)
        present = np.bincount(docs.tokens, minlength=v) > 0
        ranks = np.arange(v)
        h, t = max(3, int(v * HEAD)), max(6, int(v * TORSO))
        self.head = ranks[:h]
        self.torso = ranks[h:t][present[h:t]]
        self.tail = ranks[t:][present[t:]]
        self.history: dict[str, list[Query]] = {c: [] for c in CLASSES}

    def _term(self, band: np.ndarray) -> str:
        return str(self.vocab[band[int(self.rng.integers(len(band)))]])

    def _span(self, width: int) -> np.ndarray:
        """Token ids at positions p and p+width of one random document."""
        d = self.docs
        while True:
            i = int(self.rng.integers(d.n))
            lo, hi = int(d.offsets[i]), int(d.offsets[i + 1])
            if hi - lo > width:
                p = int(self.rng.integers(lo, hi - width))
                return d.tokens[[p, p + width]]

    def _fresh(self, cls: str) -> Query:
        kinds = [k for k in sorted(self.mix) if KIND_CLASS[k] == cls]
        w = np.array([self.mix[k] for k in kinds], dtype=np.float64)
        kind = kinds[int(self.rng.choice(len(kinds), p=w / w.sum()))]
        t = self._term
        if kind == "and":
            terms = (t(self.head), t(self.torso))
        elif kind == "or":
            terms = (t(self.torso), t(self.tail), t(self.tail))
        elif kind == "andnot":
            terms = (t(self.torso), t(self.head))
        elif kind == "phrase0":
            terms = tuple(str(self.vocab[x]) for x in self._span(1))
        elif kind == "phrase2":
            terms = tuple(str(self.vocab[x]) for x in self._span(2))
        elif kind == "bm25_and":
            terms = (t(self.head), t(self.torso))
        else:  # bm25_or, bm25_pruned
            terms = (t(self.head), t(self.torso), t(self.tail))
        return Query(kind, terms)

    def next(self, cls: str) -> Query:
        past = self.history[cls]
        if past and self.rng.random() < REPEAT_FRAC:
            q = past[int(self.rng.integers(len(past)))]
        else:
            q = self._fresh(cls)
        past.append(q)
        return q

    def round(self) -> list[Query]:
        return [self.next(CLASSES[i]) for i in self.rng.permutation(len(CLASSES))]
