"""Tokenizer parity suite (SURVEY.md §5 tier 1, §7.4.2).

Oracle = pure-Python chain (yaii standardTokenizer + stopwordFilter
semantics); engine path = the index build through a real Spark roundtrip.
Byte-identical token streams required, incl. Unicode edges.
"""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from yaii_spark.analyzer import (
    STOPWORDS,
    remove_stopwords,
    tokenize,
    tokenize_all_field,
)

FIXTURES = [
    "lorem ipsum",
    "dolor",
    "this is a demo",
    "and it is working",
    "  Leading   spaces\tand-hyphens,commas;colons:dots. ",
    "MiXeD CaSe ÉTÉ Straße İstanbul",
    "ufg about test",
    "",
    "   ",
    "-leading-separator",
    "a-b-c;d.e,f:g",
]


def test_tokenize_goldens():
    assert tokenize("lorem ipsum") == ["lorem", "ipsum"]
    # trailing '.' after trim → trailing empty token (JS split semantics)
    assert tokenize("  Leading   spaces\tand-hyphens,commas;colons:dots. ") == [
        "leading", "spaces", "and", "hyphens", "commas", "colons", "dots", "",
    ]
    assert tokenize("") == [""]
    assert tokenize("   ") == [""]
    assert tokenize("-x") == ["", "x"]


def test_stopword_list_exact():
    # 119 words + '' (stopwords-filter.ts:4-138)
    assert len(STOPWORDS) == 120
    assert "about" in STOPWORDS and "" in STOPWORDS
    assert "ufg" not in STOPWORDS


def test_all_field_chain():
    # test-index.ts:303-307 — 'about' never reaches the catch-all
    assert tokenize_all_field("ufg about test") == ["ufg", "test"]


def test_build_path_parity(spark, tmp_path):
    """An index built through the real Spark/Arrow path holds exactly
    the oracle's token streams: each doc's `text` and `_all` postings,
    read back in position order, equal tokenize and tokenize_all_field,
    Unicode edges included."""
    from yaii_spark.codec import decode_positions, delta_decode_blocked, varint_decode
    from yaii_spark.indexer import build_index
    from yaii_spark.storage import IndexCatalog

    idx = str(tmp_path / "fixtures_idx")
    df = spark.createDataFrame(list(enumerate(FIXTURES)), "doc_id long, text string")
    build_index(spark, df, idx, seg_size=4)
    cat = IndexCatalog(spark, idx)
    block = cat.corpus_stats().block_size
    streams = {}
    for r in cat.postings().collect():
        ids = delta_decode_blocked(r.doc_ids_bin, block)
        for d, ps in zip(ids, decode_positions(r.pos_bin, varint_decode(r.tfs_bin))):
            for p in ps:
                streams.setdefault((r.field, int(d)), []).append((int(p), r.term))
    for i, t in enumerate(FIXTURES):
        got = {f: [tk for _, tk in sorted(streams.get((f, i), []))] for f in ("text", "_all")}
        assert got["text"] == tokenize(t), f"text mismatch on {t!r}"
        assert got["_all"] == tokenize_all_field(t), f"_all mismatch on {t!r}"


@settings(max_examples=50, deadline=None)
@given(st.text(max_size=80))
def test_tokenize_invariants(s):
    toks = tokenize(s)
    assert isinstance(toks, list) and len(toks) >= 1
    from yaii_spark.analyzer import _JS_WS

    for t in toks:
        assert t == t.lower()
        # separators never survive inside a token — the ECMAScript
        # whitespace class, not Python \s (\x1c-\x1f/\x85 are valid
        # token bytes in JS; \ufeff is a separator)
        assert not re.search(f"[{_JS_WS}\\-,;:.]", t)
    assert all(t not in STOPWORDS for t in remove_stopwords(toks))


def test_rule_tokenizer():
    """mooTokenizer re-expression (F4): rule priority + selective lowercase."""
    from yaii_spark.analyzer import make_rule_tokenizer

    fn = make_rule_tokenizer(
        [
            ("ref", r"[@%&][A-Za-z0-9+/=]+\.[a-z0-9]+", False),
            ("word", r"[^\s\-,;:.]+", True),
        ]
    )
    text = "Hello @AbC123+/=.sha256 World-foo"
    assert fn(text) == ["hello", "@AbC123+/=.sha256", "world", "foo"]


def test_js_whitespace_parity_edges():
    """ECMAScript \\s vs Python \\s divergences (ADVICE round 1):
    U+001C-001F and U+0085 are NOT whitespace in JS (token survives),
    U+FEFF IS (splits + trims)."""
    from yaii_spark.analyzer import tokenize

    for ch in ["\x1c", "\x1d", "\x1e", "\x1f", "\x85"]:
        assert tokenize(f"a{ch}b") == [f"a{ch}b"], hex(ord(ch))
        # trim must not strip them either
        assert tokenize(f"{ch}ab{ch}") == [f"{ch}ab{ch}"]
    assert tokenize("a﻿b") == ["a", "b"]
    assert tokenize("﻿ab﻿") == ["ab"]
    # the rest of the JS set still splits
    for ch in [" ", " ", " ", "　", "\t"]:
        assert tokenize(f"a{ch}b") == ["a", "b"], hex(ord(ch))


def test_rule_tokenizer_user_capturing_group():
    """Rule dispatch must survive user patterns with their own
    capturing groups (m.lastgroup would be None/wrong)."""
    from yaii_spark.analyzer import make_rule_tokenizer

    fn = make_rule_tokenizer([
        ("pair", r"(aa|bb)X?", False),       # inner capturing group
        ("word", r"[A-Za-z]+", True),
    ])
    assert fn("aaX BB cc") == ["aaX", "bb", "cc"]
    fn2 = make_rule_tokenizer([
        ("num", r"([0-9]+)(\.[0-9]+)?", False),
        ("word", r"[A-Za-z]+", True),
    ])
    assert fn2("Pi 3.14 X") == ["pi", "3.14", "x"]
