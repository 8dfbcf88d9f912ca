"""Analyzer chain: exact re-expression of yaii's tokenizer semantics.

Reference semantics (cited for parity checking, NOT copied — the
implementations here are numpy/pandas-vectorized batch code):

- standardTokenizer: ``input.trim().toLowerCase().split(/[\\s\\-,;:.]+/g)``
  (/root/reference/src/lib/analyzer/standard-tokenizer.ts:4-21).
  JS ``String.prototype.split`` with a regex keeps leading/trailing empty
  strings when separators touch the ends; after ``trim()`` only
  non-whitespace separators (``-,;:.``) can produce those.
- stopwordFilter: drops the 119-word English stoplist plus the empty
  string, post-tokenization
  (/root/reference/src/lib/analyzer/stopwords-filter.ts:4-138). In yaii
  the stopword filter is applied only to the catch-all ``£_ALL`` field
  (/root/reference/src/yaii-types.ts:42-45); regular fields keep
  stopwords — we mirror that: document length & postings for the `text`
  field include stopwords, the `all`-style token stream filters them.
- lowercaseFilter (/root/reference/src/lib/analyzer/lowercase-filter.ts)
  is subsumed: standardTokenizer already lowercases.

The pure-Python functions are both the test oracle and what the index
build runs (inside its one inversion UDF, `doc_postings`), so parity is
structural — the pytest suite (tests/test_analyzer.py) still asserts
that an index built through a real Spark/Arrow roundtrip holds exactly
these token streams, including Unicode edges (SURVEY.md §7.4.2).
"""

from __future__ import annotations

import re
from typing import Iterable, List

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ECMAScript whitespace set (WhiteSpace ∪ LineTerminator,
# ES2023 §12.2-12.3) — what JS /\s/ and String.prototype.trim use.
# Python's unicode \s and str.strip() differ on real web text: they
# add U+001C-001F (file/group/record/unit separators) and U+0085
# (NEL), and miss U+FEFF (BOM/ZWNBSP). Byte-identical token streams
# need the explicit class.
_JS_WS = (
    "\t\n\x0b\x0c\r \u00a0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000\ufeff"
)

# exact separator class from the reference tokenizer: JS \s + -,;:.
TOKEN_SEPARATOR = re.compile(f"[{_JS_WS}\\-,;:.]+")

# exact stoplist (119 words) + '' from the reference stopword filter
STOPWORDS = frozenset(
    """a able about across after all almost also am among an and any are as
    at be because been but by can cannot could dear did do does either else
    ever every for from get got had has have he her hers him his how however
    i if in into is it its just least let like likely may me might most must
    my neither no nor not of off often on only or other our own rather said
    say says she should since so some than that the their them then there
    these they this tis to too twas us wants was we were what when where
    which while who whom why will with would yet you your""".split()
) | {""}


def tokenize(text: str) -> List[str]:
    """Standard tokenizer: trim → lowercase → split on [\\s\\-,;:.]+.

    Matches JS semantics: ``''.split(re)`` in JS returns ``['']`` and so
    does Python ``re.split`` on an empty string — both yield one empty
    token for empty/whitespace-only input. Trim strips exactly the
    ECMAScript whitespace set (_JS_WS), not Python's.
    """
    return TOKEN_SEPARATOR.split(text.strip(_JS_WS).lower())


def remove_stopwords(tokens: Iterable[str]) -> List[str]:
    return [t for t in tokens if t not in STOPWORDS]


def tokenize_all_field(text: str) -> List[str]:
    """Catch-all field chain: tokenizer + stopword filter (yaii-types.ts:42-45)."""
    return remove_stopwords(tokenize(text))


# ---------------------------------------------------------------------------
# packed per-doc postings (the index build's hot path)
#
# Arrow conversion of nested struct arrays (term, tf, positions[]) was
# measured at ~95% of the analyzer stage (112 core-s total vs 6 core-s
# of pure-Python tokenize+invert for 50k docs of 150-250 tokens). The
# build therefore ships ONE binary blob per (doc, term-hash shard):
# a flat byte string of entries
#
#     varint(field_id) varint(len(term)) term_bytes
#     varint(tf) varint(len(pos_bytes)) pos_bytes
#
# where pos_bytes is the LEB128 delta encoding of the term's positions
# — the exact bytes pos_bin stores, so the segment encoder concatenates
# slices without re-encoding (LEB128 is per-value, concat-safe).
# ---------------------------------------------------------------------------

def _venc_into(out: bytearray, v: int) -> None:
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def varint_read(b, off: int) -> tuple[int, int]:
    """Read one LEB128 value from bytes b at off → (value, new_off)."""
    shift = 0
    v = 0
    while True:
        x = b[off]
        off += 1
        v |= (x & 0x7F) << shift
        if x < 0x80:
            return v, off
        shift += 7


def doc_postings(
    values: tuple, n_shards: int, specs: list[tuple[int, tuple[int, ...], object]],
    term_cache: dict | None = None,
):
    """Tokenize + invert one document into per-shard packed entries.

    `values`: the row's source values; values[0] is the text column,
    whose standard tokenization gives dl (None text → dl None).
    `specs`: ordered (field_id, source indexes into `values`, analyzer)
    with a pure ``str → list[str | None]`` analyzer. A field's stream is
    the concatenation of the analyzer's output over its non-null
    sources, in order, with sequential positions. A None token moves
    the position forward but is never indexed (position_gap
    sentinels). The default fields over values[0] (`tokenize`,
    `tokenize_all_field`) reuse the dl tokenization instead of
    re-tokenizing.

    Returns (dl, {shard: bytearray}); shard = crc32(term) % n_shards,
    so a (field, term)'s entries always land in one shard.

    `term_cache` memoizes term → (utf-8 bytes, shard): the encode+crc32
    pair is term-identity work repeated for every (doc, field) a term
    appears in — on a Zipf corpus the same few thousand terms dominate,
    so an Arrow-batch-scoped cache (make_doc_postings_udf passes one
    per batch, bounding its size) removes most of those calls
    (profiled ~10%% of the stage)."""
    import zlib

    text = values[0]
    toks = tokenize(text) if text is not None else None
    bufs: dict[int, bytearray] = {}
    if term_cache is None:
        term_cache = {}
    for fid, srcs, analyzer in specs:
        if srcs == (0,) and analyzer is tokenize:
            stream = toks or ()
        elif srcs == (0,) and analyzer is tokenize_all_field:
            stream = remove_stopwords(toks) if toks is not None else ()
        else:
            stream = []
            for s in srcs:
                if values[s] is not None:
                    stream.extend(analyzer(values[s]) or ())
        agg: dict[str, list[int]] = {}
        for i, tk in enumerate(stream):
            agg.setdefault(tk, []).append(i)
        agg.pop(None, None)
        for term, pos in agg.items():
            cached = term_cache.get(term)
            if cached is None:
                tb = term.encode("utf-8")
                cached = term_cache[term] = (tb, zlib.crc32(tb) % n_shards)
            tb, sh = cached
            buf = bufs.get(sh)
            if buf is None:
                buf = bufs[sh] = bytearray()
            # position deltas: the common all-below-128 case is a
            # single C-level bytes() conversion, not a per-value loop
            prev = 0
            deltas = []
            big = False
            for p in pos:
                d = p - prev
                if d >= 0x80:
                    big = True
                deltas.append(d)
                prev = p
            if big:
                pb = bytearray()
                for d in deltas:
                    _venc_into(pb, d)
                pb = bytes(pb)
            else:
                pb = bytes(deltas)
            # header values are almost always single-byte varints
            for v in (fid, len(tb)):
                buf.append(v) if v < 0x80 else _venc_into(buf, v)
            buf += tb
            for v in (len(pos), len(pb)):
                buf.append(v) if v < 0x80 else _venc_into(buf, v)
            buf += pb
    return (len(toks) if toks is not None else None), bufs


def unpack_postings(acc: dict, doc_id: int, dl: int, data) -> None:
    """Read one packed blob (doc_postings layout) back into `acc`:
    (field_id, term utf-8 bytes) → ([doc ids], [tfs], [dls],
    [position bytes]), one entry per term appended in call order. The
    build's segment encoder and the stream's per-batch segment share
    this one parser."""
    off = 0
    n = len(data)
    while off < n:
        # header varints are single-byte in the common case
        fid = data[off]
        off += 1
        if fid >= 0x80:
            fid, off = varint_read(data, off - 1)
        tl = data[off]
        off += 1
        if tl >= 0x80:
            tl, off = varint_read(data, off - 1)
        term = data[off : off + tl]
        off += tl
        tf = data[off]
        off += 1
        if tf >= 0x80:
            tf, off = varint_read(data, off - 1)
        pl = data[off]
        off += 1
        if pl >= 0x80:
            pl, off = varint_read(data, off - 1)
        pos = data[off : off + pl]
        off += pl
        e = acc.get((fid, term))
        if e is None:
            e = acc[(fid, term)] = ([], [], [], [])
        e[0].append(doc_id)
        e[1].append(tf)
        e[2].append(dl)
        e[3].append(pos)


DOC_POSTINGS_TYPE = T.StructType(
    [
        T.StructField("dl", T.IntegerType()),
        T.StructField(
            "blobs",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("shard", T.IntegerType()),
                        T.StructField("data", T.BinaryType()),
                    ]
                )
            ),
        ),
    ]
)


def make_doc_postings_udf(
    n_shards: int, specs: list[tuple[int, tuple[int, ...], object]]
):
    """Arrow UDF over (text, *extra source columns) → (dl, [(shard,
    packed entries)]); `specs` index the UDF's arguments (doc_postings)."""

    def _series(*cols: pd.Series) -> pd.DataFrame:
        dls, blobs = [], []
        term_cache: dict = {}  # batch-scoped: bounded by batch vocab
        for values in zip(*cols):
            dl, bufs = doc_postings(values, n_shards, specs, term_cache)
            dls.append(dl)
            blobs.append(
                [{"shard": sh, "data": bytes(b)} for sh, b in bufs.items()]
            )
        return pd.DataFrame({"dl": dls, "blobs": blobs}, index=cols[0].index)

    return F.pandas_udf(_series, DOC_POSTINGS_TYPE)


def make_rule_tokenizer(rules: list[tuple[str, str, bool]]):
    """Lexer-style rule tokenizer — re-expression of yaii's mooTokenizer
    (/root/reference/src/lib/analyzer/moo-tokenizer.ts:6-22): ordered
    (name, pattern, lowercase) rules matched with first-rule-wins
    priority at each position; every matched token is kept, and
    lowercased iff its rule's `lowercase` flag is set.

    The reference's SSB config keeps @/%/&…=.xxx crypto refs whole and
    lowercases words (test/performance/performance-ssb.ts:109-115); the
    equivalent here:

        make_rule_tokenizer([
            ("ref",  r"[@%&][A-Za-z0-9+/=]+\\.[a-z0-9]+", False),
            ("word", r"[^\\s\\-,;:.]+", True),
        ])

    Patterns may contain their own capturing groups; backreferences
    are not supported (group numbers shift inside the combined
    alternation).

    Returns the pure function build_index's fields map takes as a
    field's analyzer.
    """
    compiled = re.compile(
        "|".join(f"(?P<r{i}>(?:{pat}))" for i, (_, pat, _) in enumerate(rules))
    )
    lower_flags = [lower for _, _, lower in rules]
    # rule dispatch must survive user patterns that contain their own
    # capturing groups (m.lastgroup would then be None or an inner
    # name): check our named wrapper groups directly, first match wins
    rule_names = [f"r{i}" for i in range(len(rules))]

    def fn(text: str) -> List[str]:
        out = []
        for m in compiled.finditer(text):
            tok = m.group(0)
            idx = next(i for i, g in enumerate(rule_names) if m.group(g) is not None)
            out.append(tok.lower() if lower_flags[idx] else tok)
        return out

    return fn


def make_multivalue_analyzer(per_value_fn=tokenize, position_gap: int = 0):
    """Multi-valued field support (yaii FieldValues): analyze each
    array element and CONCATENATE the token streams in array order —
    exactly the reference's array termizer
    (/root/reference/src/base-inverted-index.ts:186-196).

    `position_gap` (Lucene's positionIncrementGap analogue) controls
    phrase semantics across element boundaries: with the default 0,
    positions continue seamlessly and a phrase can match across a
    boundary (the reference stores no positions, so plain concatenation
    is the only observable semantics there); with gap N ≥ 1, each
    element's first token sits N + 1 positions after the previous
    element's last token, so a phrase (or any proximity window with
    slop < N) can no longer straddle elements. Implemented by emitting
    N None sentinel tokens at each boundary — the build's inverter
    (doc_postings) advances the position past each one but never
    indexes it, leaving the position gap behind (cost: N list slots per
    boundary, never an indexed posting).

    Returns the pure function to put in build_index's fields map for
    an array<string> column. Scalar strings are accepted too
    (single-element semantics)."""

    def fn(values) -> List[str] | None:
        if values is None:
            return None
        if isinstance(values, str):
            return per_value_fn(values)
        out: List[str] = []
        first = True
        for v in values:
            if v is not None:
                if not first and position_gap:
                    out.extend([None] * position_gap)
                out.extend(per_value_fn(v))
                first = False
        return out

    return fn

