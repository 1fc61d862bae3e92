"""The fused analysis chain + its Arrow-vectorized Spark surface.

Pipeline (the reference's flagship composition, SURVEY.md §3.1):

    StandardTokenizer -> WordDelimiterGraphFilter -> LowerCase -> Stop -> Stem

The reference evaluates this as a pull-based decorator chain
(/root/reference/src/analyses/TokenStream.php:12-47); here the stages are
fused into ONE Python function applied per Arrow batch inside a single
``pandas_udf`` — one JVM<->Python hop per batch, zero per-row Python UDFs.

Two UDF shapes:

* ``analyze_udf``      -> array<struct<term,start,end,pos,pos_inc,pos_len,type>>
  (full token graph, for golden-vector parity and phrase-aware consumers)
* ``term_vectors_udf`` -> array<struct<term,tf>> + doc length
  (map-side pre-aggregated term frequencies: the groupBy(doc,term) shuffle
  over raw tokens is eliminated before it exists — at 100 TB this is the
  difference between shuffling ~10^12 token rows and ~10^10 (doc,term) rows)
"""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T

from .filters import ENGLISH_STOP_WORDS, lowercase, stop
from .memo import Memo
from .porter2 import stem
from .tokenizer import (MAX_TOKEN_LEN, TYPE_ALPHANUM, TYPE_NUM, Token,
                        standard_tokenize, token_spans)
from .word_delimiter import word_delimiter_graph

__all__ = ["analyze", "analyze_terms", "analyze_udf", "term_vectors_udf",
           "TOKEN_SCHEMA", "TERM_VECTOR_SCHEMA"]


def analyze(text: str, stemming: bool = True,
            stop_words: frozenset[str] = ENGLISH_STOP_WORDS) -> list[Token]:
    toks = word_delimiter_graph(standard_tokenize(text))
    toks = stop(lowercase(toks), stop_words)
    if stemming:
        toks = [t._replace(term=stem(t.term)) for t in toks]
    return toks


TOKEN_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("term", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("pos", T.IntegerType()),
    T.StructField("pos_inc", T.IntegerType()),
    T.StructField("pos_len", T.IntegerType()),
    T.StructField("type", T.StringType()),
]))

TERM_VECTOR_SCHEMA = T.StructType([
    T.StructField("terms", T.ArrayType(T.StructType([
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.IntegerType()),
    ]))),
    T.StructField("dl", T.IntegerType()),  # doc length in positions
])


def _analyze_series(texts: pd.Series) -> pd.Series:
    out = []
    for text in texts:
        rows = []
        pos = -1
        for t in analyze(text or ""):
            pos += t.pos_inc
            rows.append((t.term, t.start, t.end, pos, t.pos_inc, t.pos_len, t.type))
        out.append(rows)
    return pd.Series(out)


def _tail(raw: str, ttype: str) -> tuple[int, tuple, tuple]:
    """One raw token through WDGF + lower + stop + stem -> (position of
    its last token, dropped ones included; its FINAL terms; their
    (term, position, start, length)), positions counted from the raw
    token's own (0) and offsets from its start."""
    pos, occ = -1, []
    for t in lowercase(word_delimiter_graph(
            [Token(raw, 0, len(raw), 1, 1, ttype)])):
        pos += t.pos_inc
        if t.term not in ENGLISH_STOP_WORDS:
            occ.append((stem(t.term), pos, t.start, t.end - t.start))
    return pos, tuple(o[0] for o in occ), tuple(occ)


# raw token text -> _tail.  Every downstream stage is a pure function of
# the raw token text, so the whole pipeline tail — terms, relative
# positions and offsets — is memoizable per unique token.  Correctness vs
# the unfused path is asserted by tests/test_analysis.py.
_PIPE_CACHE = Memo(lambda raw: _tail(raw, TYPE_ALPHANUM), 2_000_000)


def analyze_terms(text: str) -> list[str]:
    """Fast path: the multiset of final terms (order = emission order).

    Skips offset/position bookkeeping — used for term-vector/tf extraction
    where only the term stream matters.  len(result) == dl.
    """
    out: list[str] = []
    for s, e, ttype in token_spans(text):
        if e - s > MAX_TOKEN_LEN:
            continue
        raw = text[s:e]
        if ttype is TYPE_ALPHANUM or ttype is TYPE_NUM:
            out.extend(_PIPE_CACHE[raw][1])
        else:
            out.append(raw.lower())  # CJK/SEA: no WDGF/stem, lowercase only
    return out


def _analyze_occurrences(text: str) -> list[tuple[str, int, int, int]]:
    """Positional fast path: (term, position, start, length) per token of
    ``analyze(text)``, position being the running sum of pos_inc.  A kept
    token's position counts every pos_inc before it, dropped (stop word,
    overlong) tokens' included — so memoized tails add up to the holes
    the unfused chain leaves."""
    out: list[tuple[str, int, int, int]] = []
    nxt = 0  # position the next raw token's first token takes
    for s, e, ttype in token_spans(text):
        if e - s > MAX_TOKEN_LEN:
            nxt += 1
            continue
        last, _, occ = (_PIPE_CACHE[text[s:e]]
                        if ttype is TYPE_ALPHANUM or ttype is TYPE_NUM
                        else _tail(text[s:e], ttype))
        out.extend((t, nxt + p, s + st, n) for t, p, st, n in occ)
        nxt += last + 1
    return out


def _term_vectors_series(texts: pd.Series) -> pd.DataFrame:
    terms_col, dl_col = [], []
    for text in texts:
        terms = analyze_terms(text or "")
        counts = Counter(terms)
        # dl = token count (Lucene norm uses the number of indexed terms)
        terms_col.append(sorted(counts.items()))
        dl_col.append(len(terms))
    return pd.DataFrame({"terms": terms_col, "dl": dl_col})


def analyze_udf():
    """pandas_udf: content -> full token array (graph semantics)."""
    return F.pandas_udf(_analyze_series, TOKEN_SCHEMA)


def term_vectors_udf():
    """pandas_udf: content -> struct(terms: array<(term, tf)>, dl: int)."""
    return F.pandas_udf(_term_vectors_series, TERM_VECTOR_SCHEMA)
