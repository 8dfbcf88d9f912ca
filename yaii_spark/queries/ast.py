"""Query AST + logical rewrite pass.

Re-expression of yaii's combinator DSL
(/root/reference/src/lib/api/query-dsl.ts:14-84 — token/and/or/not/
number/numberRange/present/all) and the useful subset of its
`BooleanExpression.rewrite` logical optimizations
(/root/reference/src/lib/internal/query-ir/boolean-exp.ts:41-149):
flattening, ALL/NONE constant folding, contradiction detection,
single-operand promotion. The numeric trie of the reference
(query-ir.ts:57-120) is replaced by native typed range predicates —
Catalyst pushes them to parquet.

The rewrite runs on this AST *before* any DataFrame is built (cheaper
and more controllable than a custom Catalyst rule, SURVEY.md §7.3);
`prune_absent_terms` is the `mayMatch` plan-time pruning analogue
(query-ir.ts:148-156, mutable-segment.ts:176-178).
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Node:
    def __and__(self, other):
        return And([self, other])

    def __or__(self, other):
        return Or([self, other])

    def __invert__(self):
        return Not(self)


@dataclass(frozen=True)
class Token(Node):
    term: str
    field_name: str = "text"


@dataclass(frozen=True)
class Phrase(Node):
    """Ordered phrase / proximity match over stored positions.

    Matches documents containing positions p_0 < p_1 < … < p_{k-1}
    (p_j an occurrence of terms[j] in the field's token stream) with
    total in-order gap (p_{k-1} − p_0) − (k−1) ≤ slop; slop=0 is the
    exact-adjacency phrase. This is the consumer of the pos_bin bytes
    the index stores for every posting (north_rule:
    term -> [docID, tf, positions]); the reference has no positions,
    so this is a capability extension, not parity."""

    terms: tuple
    field_name: str = "text"
    slop: int = 0

    def __init__(self, terms, field_name: str = "text", slop: int = 0):
        object.__setattr__(self, "terms", tuple(terms))
        object.__setattr__(self, "field_name", field_name)
        object.__setattr__(self, "slop", int(slop))


@dataclass(frozen=True)
class TokenRange(Node):
    """Dictionary range predicate (the reference's declared-but-NYI
    TOKEN_RANGE, /root/reference/src/lib/api/base.ts:65 — throws at
    query-ir.ts:220-223): matches docs containing ANY term t with
    lo ≤ t ≤/< hi (binary order). Evaluated as a term-range postings
    scan — parquet row-group min/max stats on the term-sorted files
    prune it like a B-tree range."""

    field_name: str
    lo: str | None = None
    hi: str | None = None
    lo_inclusive: bool = True
    hi_inclusive: bool = False


@dataclass(frozen=True)
class TextContains(Node):
    """Substring-of-token predicate (the reference's declared-but-NYI
    TEXT_CONTAINS, base.ts:67): matches docs containing any term with
    `needle` as a substring. A full dictionary scan by construction —
    bounded per segment, expanded to the matching terms' postings."""

    field_name: str
    needle: str


@dataclass(frozen=True)
class NumberEq(Node):
    field_name: str
    value: int


@dataclass(frozen=True)
class NumberRange(Node):
    field_name: str
    lo: float | None = None
    hi: float | None = None
    lo_inclusive: bool = True
    hi_inclusive: bool = False  # yaii DSL default: [lo, hi)


@dataclass(frozen=True)
class HasField(Node):
    field_name: str


@dataclass(frozen=True)
class CachedFilter(Node):
    """Named, memoized filter reusable inside later queries — the
    reference's £_FILTER_CACHE pseudo-token
    (/root/reference/src/lib/internal/query-ir/cached-filter.ts:10-41).
    Resolved from the catalog's persisted filter cache at execution."""

    name: str


@dataclass(frozen=True)
class All(Node):
    pass


@dataclass(frozen=True)
class NoneNode(Node):
    pass


@dataclass(frozen=True)
class And(Node):
    children: tuple = field(default_factory=tuple)

    def __init__(self, children):
        object.__setattr__(self, "children", tuple(children))


@dataclass(frozen=True)
class Or(Node):
    children: tuple = field(default_factory=tuple)

    def __init__(self, children):
        object.__setattr__(self, "children", tuple(children))


@dataclass(frozen=True)
class Not(Node):
    child: Node


# -- combinator API (names follow the reference DSL) ------------------------

def token(term, field_name: str = "text") -> Node:
    # arrays of values are an implicit OR in the reference
    # (query-ir.ts:131-158); we mirror with an explicit Or.
    # TokenValue = string | boolean (query-ir.ts:37-38): the reference
    # folds booleans into the term dictionary as sentinel terms
    # ("A"/"B"); our typed-column stance (the one that retired the
    # numeric trie — SURVEY §1.2) maps them onto the attribute-equality
    # predicate over the stored column instead — same matches, no
    # dictionary entry.
    if isinstance(term, bool):
        return NumberEq(field_name, term)
    return Token(term, field_name)


def phrase(terms: list[str], field_name: str = "text", slop: int = 0) -> Node:
    return Phrase(terms, field_name, slop)


def token_range(
    field_name: str,
    lo: str | None = None,
    hi: str | None = None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = False,
) -> Node:
    return TokenRange(field_name, lo, hi, lo_inclusive, hi_inclusive)


def text_contains(needle: str, field_name: str = "text") -> Node:
    return TextContains(field_name, needle)


def prefix(p: str, field_name: str = "text") -> Node:
    """Prefix query (Lucene PrefixQuery surface): all docs with a term
    starting with `p` — sugar over the dictionary-range scan. The
    prefix set {t : t startswith p} is EXACTLY the interval
    [p, successor(p)) under code-point order (the order Spark string
    comparison, UTF-8 byte order, and the term-sorted posting files
    all share), where successor(p) increments p's last
    incrementable code point and drops the tail — no sentinel-char
    approximation, so even terms containing U+10FFFF classify
    correctly. Matching is case-sensitive against the dictionary,
    which is lowercased at index time — pass the prefix lowercased
    like every token predicate."""
    if not p:
        raise ValueError("prefix: empty prefix would match every term")
    hi = _prefix_successor(p)
    return TokenRange(field_name, p, hi, True, False)


def _prefix_successor(p: str) -> str | None:
    """Smallest string greater than every string with prefix `p`:
    bump the rightmost code point that has one (skipping the surrogate
    gap, which cannot occur in UTF-8 data) and truncate after it. None
    when p is all U+10FFFF — the prefix set is then unbounded above
    and the caller uses an open upper end."""
    for i in range(len(p) - 1, -1, -1):
        c = ord(p[i])
        if c < 0x10FFFF:
            nxt = c + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            return p[:i] + chr(nxt)
    return None


def and_(*nodes: Node) -> Node:
    return And(list(nodes))


def or_(*nodes: Node) -> Node:
    return Or(list(nodes))


def not_(node: Node) -> Node:
    return Not(node)


def number(field_name: str, value: int) -> Node:
    return NumberEq(field_name, value)


def number_range(
    field_name: str,
    lo: float | None = None,
    hi: float | None = None,
    lo_inclusive: bool = True,
    hi_inclusive: bool = False,
) -> Node:
    return NumberRange(field_name, lo, hi, lo_inclusive, hi_inclusive)


def has_field(field_name: str) -> Node:
    return HasField(field_name)


def all_docs() -> Node:
    return All()


def cached_filter(name: str) -> Node:
    return CachedFilter(name)


def none() -> Node:
    return NoneNode()


# -- logical rewrite ---------------------------------------------------------

def rewrite(node: Node) -> Node:
    """Bottom-up simplification (subset of boolean-exp.ts:41-149)."""
    if isinstance(node, And):
        kids = []
        for c in (rewrite(c) for c in node.children):
            if isinstance(c, All):
                continue  # AND operand ALL → dropped (:83-89)
            if isinstance(c, NoneNode):
                return NoneNode()  # AND operand NONE → NONE
            if isinstance(c, And):
                kids.extend(c.children)  # flatten (:72-91)
            else:
                kids.append(c)
        kids = list(dict.fromkeys(kids))  # dedup
        # contradiction: x AND NOT x → NONE (:132-136)
        pos = {c for c in kids if not isinstance(c, Not)}
        neg = {c.child for c in kids if isinstance(c, Not)}
        if pos & neg:
            return NoneNode()
        if not kids:
            return All()  # empty expr → ALL (:139-147)
        if len(kids) == 1:
            return kids[0]
        return And(kids)
    if isinstance(node, Or):
        kids = []
        for c in (rewrite(c) for c in node.children):
            if isinstance(c, All):
                return All()  # OR containing ALL → ALL (:49-52)
            if isinstance(c, NoneNode):
                continue
            if isinstance(c, Or):
                kids.extend(c.children)  # flatten (:44-62)
            else:
                kids.append(c)
        kids = list(dict.fromkeys(kids))
        if not kids:
            return NoneNode()
        if len(kids) == 1:
            return kids[0]  # single should → must (:64-69)
        return Or(kids)
    if isinstance(node, Not):
        c = rewrite(node.child)
        if isinstance(c, All):
            return NoneNode()  # mustNot ALL → NONE (:105-111)
        if isinstance(c, NoneNode):
            return All()
        if isinstance(c, Not):
            return c.child  # double negation
        return Not(c)
    if isinstance(node, Phrase):
        if not node.terms:
            return NoneNode()
        if len(node.terms) == 1:
            return Token(node.terms[0], node.field_name)  # 1-gram ≡ token
        return node
    return node


def leaves(node: Node) -> list:
    """The tree's leaves, left to right."""
    if isinstance(node, (And, Or)):
        return [x for c in node.children for x in leaves(c)]
    if isinstance(node, Not):
        return leaves(node.child)
    return [node]


def collect_terms(node: Node) -> set[tuple[str, str]]:
    """All (field, term) pairs referenced by the tree."""
    out: set[tuple[str, str]] = set()
    for n in leaves(node):
        if isinstance(n, Token):
            out.add((n.field_name, n.term))
        elif isinstance(n, Phrase):
            out.update((n.field_name, t) for t in n.terms)
    return out


def prune_absent_terms(node: Node, present: set[tuple[str, str]]) -> Node:
    """mayMatch: tokens absent from the term dictionary → NONE, then
    re-simplify. Runs on the driver against broadcast term stats."""

    def walk(n: Node) -> Node:
        if isinstance(n, Token):
            return n if (n.field_name, n.term) in present else NoneNode()
        if isinstance(n, Phrase):
            # every phrase term must exist (conjunctive mayMatch)
            if all((n.field_name, t) in present for t in n.terms):
                return n
            return NoneNode()
        if isinstance(n, And):
            return And([walk(c) for c in n.children])
        if isinstance(n, Or):
            return Or([walk(c) for c in n.children])
        if isinstance(n, Not):
            return Not(walk(n.child))
        return n

    return rewrite(walk(node))


def is_token_only(node: Node) -> bool:
    """True if the subtree touches only posting lists (no attribute
    predicates) — eligible for the per-segment numpy set-algebra path."""
    token_leaves = (Token, Phrase, TokenRange, TextContains, All, NoneNode)
    return all(isinstance(n, token_leaves) for n in leaves(node))
