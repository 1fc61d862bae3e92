"""Golden-vector tests for the analysis chain (SURVEY.md §5.1-5.2).

The reference ships zero tests; these vectors are authored from its
semantics (file:line contracts cited in SURVEY.md) and frozen here —
everything downstream (postings, BM25, rank-identity) depends on them.
"""

import json
import pathlib

import pytest

from php_lucene_analyzer_spark.analysis import analyze, standard_tokenize
from php_lucene_analyzer_spark.analysis.filters import lowercase, stop
from php_lucene_analyzer_spark.analysis.porter2 import porter2
from php_lucene_analyzer_spark.analysis.word_delimiter import word_delimiter_graph

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


def _run_chain(chain: str, text: str):
    toks = standard_tokenize(text)
    if chain == "standard":
        return toks
    toks = word_delimiter_graph(toks)
    if chain == "standard+wdgf":
        return toks
    assert chain == "full"
    return analyze(text)


@pytest.mark.parametrize(
    "case", json.loads((FIXTURES / "tokenizer_golden.json").read_text()),
    ids=lambda c: f"{c['chain']}:{c['input'][:25]}")
def test_tokenizer_golden(case):
    got = [[t.term, t.start, t.end, t.pos_inc, t.pos_len, t.type]
           for t in _run_chain(case["chain"], case["input"])]
    assert got == case["expected"]


@pytest.mark.parametrize(
    "word,expected",
    json.loads((FIXTURES / "stemmer_golden.json").read_text()),
    ids=lambda v: v if isinstance(v, str) else "")
def test_stemmer_golden(word, expected):
    assert porter2(word) == expected


def test_overlong_token_dropped_with_position_hole():
    # StandardTokenizer.php:916-927 — >255-char token skipped, position kept
    text = "start " + "x" * 300 + " end"
    toks = standard_tokenize(text)
    assert [t.term for t in toks] == ["start", "end"]
    assert toks[1].pos_inc == 2


def test_stopword_holes_accumulate():
    # FilteringTokenFilter.php:33-42
    toks = stop(lowercase(standard_tokenize("to be or not to be alpha")))
    assert [t.term for t in toks] == ["alpha"]
    assert toks[0].pos_inc == 7


def test_positions_monotone_and_offsets_ordered():
    toks = analyze("Some BIGSnakeCase_Value O'Neil's 3.14 running in the WiFi2000 era")
    pos = -1
    last_start = -1
    for t in toks:
        assert t.pos_inc >= 0
        pos += t.pos_inc
        assert t.start >= last_start  # offsets monotone (WDGF :361-366)
        assert 0 <= t.start < t.end
        last_start = t.start
    assert pos >= 0


def test_empty_and_whitespace():
    assert standard_tokenize("") == []
    assert standard_tokenize("   \n\t ...!!! ") == []
    assert analyze("the a an of") == []


def test_fast_path_matches_full_chain():
    """analyze_terms (memoized fast path) must emit the same term multiset
    and dl as the unfused chain, for every golden input + corpus samples."""
    import json
    from collections import Counter

    from php_lucene_analyzer_spark.analysis.chain import analyze_terms
    from php_lucene_analyzer_spark.corpus import _gen_content

    cases = [c["input"] for c in
             json.loads((FIXTURES / "tokenizer_golden.json").read_text())]
    cases += [_gen_content(i) for i in range(25)]
    cases += ["", "the a an", "汉字 test O'Neil's j2se " + "x" * 300]
    for text in cases:
        slow = analyze(text)
        fast = analyze_terms(text)
        assert Counter(t.term for t in slow) == Counter(fast), text[:60]
        assert len(slow) == len(fast)


def test_positional_fast_path_matches_full_chain():
    """_analyze_occurrences (memoized per raw token) must give every token
    of the unfused chain its term, position and offsets — stop-word and
    overlong-token holes included — on a cold and on a warm memo."""
    import json

    from php_lucene_analyzer_spark.analysis.chain import _analyze_occurrences
    from php_lucene_analyzer_spark.corpus import _gen_content

    cases = [c["input"] for c in
             json.loads((FIXTURES / "tokenizer_golden.json").read_text())]
    cases += [_gen_content(i) for i in range(25)]
    cases += ["", "the a an", "汉字 test O'Neil's j2se " + "x" * 300,
              "x" * 300 + " the " + "y" * 300 + " fooBar",
              "The-Quick wi-fi THE_AND_OF is_the of-the 3.14 It's",
              "日本語とEnglishとрусский 混ざった text123"]
    for _ in range(2):
        for text in cases:
            pos, slow = -1, []
            for t in analyze(text):
                pos += t.pos_inc
                slow.append((t.term, pos, t.start, t.end - t.start))
            assert _analyze_occurrences(text) == slow, text[:60]


def test_analyzer_class_variants():
    """Analyzer composition parity: default == module chain; hunspell and
    morphology stemmer slots produce their family's outputs."""
    from php_lucene_analyzer_spark.analysis.analyzers import Analyzer
    from php_lucene_analyzer_spark.analysis.chain import analyze_terms
    from php_lucene_analyzer_spark.analysis.hunspell import Stemmer, load
    from php_lucene_analyzer_spark.analysis.morphology import Morphology
    from php_lucene_analyzer_spark.corpus import _gen_content

    default = Analyzer()
    for text in ["The QuickBrown_fox is RUNNING fast", _gen_content(7)]:
        assert default.terms(text) == analyze_terms(text)
        assert [t.term for t in default.tokens(text)] \
            == [t.term for t in analyze(text)]

    aff = "SET UTF-8\nSFX G Y 1\nSFX G 0 ing [^e]\n"
    dic = "2\njump/G\nwalk/G\n"
    hun = Analyzer(stemmer="hunspell",
                   hunspell=Stemmer(load(aff, [dic])))
    assert hun.terms("jumping walking") == ["jump", "walk"]
    assert hun.terms("unknownword") == ["unknownword"]  # no stem -> keep

    m = Morphology.build([("running", "run"), ("mice", "mouse")])
    mor = Analyzer(stemmer="morphology", morphology=m)
    assert mor.terms("mice") == ["mouse"]

    plain = Analyzer(stemmer=None, stop_words=None)
    assert plain.terms("the running") == ["the", "running"]


def test_normalize_char_map():
    """A16: greedy longest-match rewrite; build-time validation
    (NormalizeCharMapBuilder.php:31-40)."""
    import pytest as _pytest

    from php_lucene_analyzer_spark.analysis.analyzers import Analyzer
    from php_lucene_analyzer_spark.analysis.charmap import (
        NormalizeCharMapBuilder)

    cm = (NormalizeCharMapBuilder()
          .add("ph", "f").add("phone", "fone").add("ß", "ss").build())
    # longest match wins: 'phone' not 'ph'+'one'
    assert cm.apply("phone photo straße") == "fone foto strasse"
    assert cm.apply("") == ""
    assert cm.apply("no matches here!") == "no matches here!"

    with _pytest.raises(ValueError):
        NormalizeCharMapBuilder().add("", "x")
    with _pytest.raises(ValueError):
        NormalizeCharMapBuilder().add("a", "b").add("a", "c")

    an = Analyzer(char_map=cm, stemmer=None, stop_words=None)
    assert an.terms("Phonetic") == ["phonetic"]  # 'Ph' unchanged (case)
    assert an.terms("photo") == ["foto"]
    assert [t.term for t in an.tokens("photo")] == ["foto"]


def test_ascii_fast_path_equivalence():
    """The ASCII regex tokenizer must equal the codepoint-class path on
    every ASCII input (goldens, corpus, randomized)."""
    import random
    import string

    from php_lucene_analyzer_spark.analysis.tokenizer import (
        _ascii_spans, token_spans)
    from php_lucene_analyzer_spark.analysis import chars as C
    import numpy as np

    def numpy_spans(text):
        # force the general path by routing around the isascii dispatch
        marked = text + " é"  # separated non-ascii tail, then trim results
        full = token_spans(marked)
        return [(s, e, t) for s, e, t in full if e <= len(text)]

    cases = ["Hello World", "3.1415 and 1,000", "O'Neil's", "a:b std::foo",
             "__ _a 1_2 a_.b x.y.z 1.2.3", "don't a.b,c 9,9 g;7 7;7",
             "trailing. .leading 'quoted'", "", "  ", "a", "1"]
    rng = random.Random(42)
    alphabet = string.ascii_letters + string.digits + "_.',:;- \t()"
    for _ in range(300):
        cases.append("".join(rng.choice(alphabet)
                             for _ in range(rng.randint(0, 60))))
    from php_lucene_analyzer_spark.corpus import _gen_content
    cases += [_gen_content(i) for i in range(10)]
    for text in cases:
        assert text.isascii()
        got = _ascii_spans(text)
        want = numpy_spans(text)
        assert got == want, (text, got, want)


def test_porter2_never_crashes_and_shrinks():
    """Fuzz: the stemmer must be total over lowercase ASCII words."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from php_lucene_analyzer_spark.analysis.porter2 import porter2

    @settings(max_examples=500)
    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz'", min_size=0,
                   max_size=40))
    def run(w):
        s = porter2(w)
        assert isinstance(s, str)
        if len(w) > 2:
            assert len(s) <= len(w) + 1  # step-1b may append one 'e'

    run()


def test_analyzer_handles_adversarial_inputs():
    """Totality over hostile inputs: huge tokens, pure punctuation,
    mixed-script soup, control chars, lone surrogates-adjacent chars."""
    from php_lucene_analyzer_spark.analysis.chain import analyze_terms

    cases = [
        "x" * 100000,                      # one giant token (dropped: >255)
        ("ab" * 300 + " ") * 50,           # many overlong tokens
        "!@#$%^&*()" * 1000,
        "\x00\x01\x02 abc \x7f",
        "a" + "́" * 50 + "b",        # combining-mark pileup
        "日本語とEnglishとрусский 混ざった text123",
        "_ __ ___ a_ _a _1 1_",
        "'''''' '" + "'s" * 100,
    ]
    for text in cases:
        terms = analyze_terms(text)       # must not throw
        assert all(isinstance(t, str) for t in terms)
        toks = analyze(text)
        assert all(t.pos_inc >= 0 for t in toks)


def test_combining_mark_attaches_to_ideograph():
    """A combining mark after a Han char joins the preceding one-char
    ideographic token instead of becoming its own token."""
    from php_lucene_analyzer_spark.analysis.tokenizer import (
        standard_tokenize)

    toks = standard_tokenize("漢́字")
    assert [(t.term, t.start, t.end) for t in toks] \
        == [("漢́", 0, 2), ("字", 2, 3)]


def test_possessive_stripped_mid_token():
    """'s is swallowed after EVERY subword (followed by end OR another
    delimiter), ASCII apostrophe only — WordDelimiterIterator :158,278."""
    from php_lucene_analyzer_spark.analysis.word_delimiter import split_word

    assert [p[0] for p in split_word("Bob's-Burgers")] == ["Bob", "Burgers"]
    assert [p[0] for p in split_word("O'Neil's")] == ["O", "Neil"]
    # curly apostrophe is NOT the reference's possessive marker
    assert [p[0] for p in split_word("Bob’s")] == ["Bob", "s"]


# ------------------------------------------------- WDGF flags (round 4)
def test_wdgf_catenate_words():
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        CATENATE_WORDS, GENERATE_WORD_PARTS, SPLIT_ON_CASE_CHANGE,
        SPLIT_ON_NUMERICS, STEM_ENGLISH_POSSESSIVE, word_delimiter_graph)

    flags = (GENERATE_WORD_PARTS | CATENATE_WORDS | SPLIT_ON_CASE_CHANGE
             | SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE)
    toks = word_delimiter_graph(
        [Token("wi-fi", 0, 5, 1, 1, "<ALPHANUM>")], flags=flags)
    got = [(t.term, t.pos_inc, t.pos_len, t.start, t.end) for t in toks]
    assert got == [("wifi", 1, 2, 0, 5),
                   ("wi", 0, 1, 0, 2),
                   ("fi", 1, 1, 3, 5)]


def test_wdgf_catenate_numbers_and_all():
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        CATENATE_ALL, CATENATE_NUMBERS, DEFAULT_FLAGS, word_delimiter_graph)

    toks = word_delimiter_graph(
        [Token("500-42", 0, 6, 1, 1, "<NUM>")],
        flags=DEFAULT_FLAGS | CATENATE_NUMBERS)
    terms = [t.term for t in toks]
    assert terms == ["500-42", "50042", "500", "42"]
    cat = next(t for t in toks if t.term == "50042")
    assert cat.pos_len == 2 and (cat.start, cat.end) == (0, 6)

    toks = word_delimiter_graph(
        [Token("wi-fi-4000", 0, 10, 1, 1, "<ALPHANUM>")],
        flags=DEFAULT_FLAGS | CATENATE_ALL)
    terms = [t.term for t in toks]
    assert terms == ["wi-fi-4000", "wifi4000", "wi", "fi", "4000"]
    cat = next(t for t in toks if t.term == "wifi4000")
    assert cat.pos_len == 3


def test_wdgf_catenate_words_skips_numbers():
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        CATENATE_WORDS, DEFAULT_FLAGS, word_delimiter_graph)

    toks = word_delimiter_graph(
        [Token("wi-fi-4000-ac", 0, 13, 1, 1, "<ALPHANUM>")],
        flags=DEFAULT_FLAGS | CATENATE_WORDS)
    terms = [t.term for t in toks]
    # only the ADJACENT word run catenates; 4000 breaks it and the
    # trailing single-part run ("ac") emits no 1-part catenation
    assert "wifi" in terms and "wifi4000ac" not in terms \
        and "fiac" not in terms and "wifiac" not in terms


def test_wdgf_custom_char_type_table():
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        CHAR_LOWER, DEFAULT_FLAGS, word_delimiter_graph)

    # a charTypeTable that declares '-' a letter: no split happens
    keep_dash = lambda ch: CHAR_LOWER if ch == "-" else None
    toks = word_delimiter_graph(
        [Token("wi-fi", 0, 5, 1, 1, "<ALPHANUM>")],
        flags=DEFAULT_FLAGS, char_type_fn=keep_dash)
    assert [t.term for t in toks] == ["wi-fi"]


def test_wdgf_default_flags_unchanged():
    """The flags parameter must not disturb the reference-forced default
    path (golden parity depends on it)."""
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        DEFAULT_FLAGS, word_delimiter_graph)

    t = [Token("PowerShot", 0, 9, 1, 1, "<ALPHANUM>")]
    a = [(x.term, x.pos_inc, x.pos_len) for x in word_delimiter_graph(t)]
    b = [(x.term, x.pos_inc, x.pos_len)
         for x in word_delimiter_graph(t, flags=DEFAULT_FLAGS)]
    assert a == b == [("PowerShot", 1, 2), ("Power", 0, 1), ("Shot", 1, 1)]


def test_wdgf_catenate_words_and_all_no_duplicates():
    """Review fix: CATENATE_WORDS|CATENATE_ALL buffer the same word run
    twice — the identical catenated token must emit ONCE."""
    from php_lucene_analyzer_spark.analysis.tokenizer import Token
    from php_lucene_analyzer_spark.analysis.word_delimiter import (
        CATENATE_ALL, CATENATE_WORDS, DEFAULT_FLAGS, word_delimiter_graph)

    toks = word_delimiter_graph(
        [Token("wi-fi", 0, 5, 1, 1, "<ALPHANUM>")],
        flags=DEFAULT_FLAGS | CATENATE_WORDS | CATENATE_ALL)
    assert [t.term for t in toks].count("wifi") == 1
    # mixed run: words-only catenation AND the all-catenation both emit
    toks = word_delimiter_graph(
        [Token("wi-fi-4000", 0, 10, 1, 1, "<ALPHANUM>")],
        flags=DEFAULT_FLAGS | CATENATE_WORDS | CATENATE_ALL)
    terms = [t.term for t in toks]
    assert terms.count("wifi") == 1 and terms.count("wifi4000") == 1
