"""Composable analyzer chains — the user-facing equivalent of the
reference's decorator composition (SURVEY §3.1):

    new EnglishStemmerFilter(new StopFilter(new LowerCaseFilter(
        new WordDelimiterGraphFilter(new StandardTokenizer($s)))), ...)

becomes

    Analyzer(stemmer="porter2").terms("some Text ...")
    Analyzer(stemmer="hunspell", hunspell=stemmer_obj)
    Analyzer(stemmer="morphology", morphology=morph_obj)

Every configuration yields (a) pull-free list APIs for tests/oracles and
(b) an Arrow-vectorized pandas UDF for DataFrames.  Stage semantics per
the cited reference files; the stemmer slot accepts the three families
the reference ships: Snowball/Porter2 (php-tartarus role), Hunspell affix
stripping (A12-A14), dictionary morphology with the EnglishStemmer
tie-break policy (A8-A11).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable

import pandas as pd
import pyspark.sql.functions as F

from .filters import (ENGLISH_STOP_WORDS, compile_synonym_rules,
                      lowercase, stop, synonym_graph, synonyms)
from .memo import Memo
from .porter2 import stem as porter2_stem
from .tokenizer import (MAX_TOKEN_LEN, TYPE_ALPHANUM, TYPE_NUM, Token,
                        standard_tokenize, token_spans)
from .word_delimiter import word_delimiter_graph


class Analyzer:
    def __init__(self, *, word_delimiter: bool = True,
                 lower: bool = True,
                 stop_words: frozenset[str] | None = ENGLISH_STOP_WORDS,
                 stemmer: str | None = "porter2",
                 hunspell=None, morphology=None, char_map=None,
                 synonyms: dict[str, tuple[str, ...]] | None = None):
        self.char_map = char_map  # NormalizeCharMap pre-filter (A16)
        self.word_delimiter = word_delimiter
        self.lower = lower
        self.stop_words = stop_words or frozenset()
        # synonym rules (r5: multi-token too — filters.synonym_graph),
        # applied after stop and BEFORE stemming so both sides of a
        # rule stem — the usual Lucene chain order for
        # SynonymGraphFilter.  Keys and values are whitespace-split
        # ("united states" -> a 2-token rule); single-token rules keep
        # the r4 stacking behavior bit-for-bit.
        self.synonyms = {k: tuple((v,) if isinstance(v, str) else v)
                         for k, v in (synonyms or {}).items()}
        self.syn_rules = compile_synonym_rules(self.synonyms)
        # per-raw-token memoization is only sound when no rule crosses
        # a token boundary on either side
        self._syn_single = all(
            len(kk) == 1 and all(len(o) == 1 for o in vv)
            for kk, vv in self.syn_rules.items())
        self._stem = self._make_stemmer(stemmer, hunspell, morphology)
        self._pipe_cache = Memo(self._pipe, 2_000_000)

    def _make_stemmer(self, name, hunspell, morphology) -> Callable[[str], list[str]]:
        if name is None:
            return lambda t: [t]
        if name == "porter2":
            return lambda t: [porter2_stem(t)]
        if name == "hunspell":
            if hunspell is None:
                raise ValueError("hunspell stemmer requires hunspell=Stemmer(...)")
            return lambda t: (hunspell.unique_stems(t) or [t])
        if name == "morphology":
            if morphology is None:
                raise ValueError("morphology stemmer requires morphology=Morphology(...)")
            from .morphology import EnglishStemmerPolicy
            pol = EnglishStemmerPolicy(morphology)
            return lambda t: [pol.stem(t)]
        raise ValueError(f"unknown stemmer {name!r}")

    # ---- full token graph (positions/offsets) ---------------------------
    def tokens(self, text: str) -> list[Token]:
        if self.char_map is not None:
            text = self.char_map.apply(text)
        toks = standard_tokenize(text)
        if self.word_delimiter:
            toks = word_delimiter_graph(toks)
        if self.lower:
            toks = lowercase(toks)
        if self.stop_words:
            toks = stop(toks, self.stop_words)
        if self.synonyms:
            toks = synonym_graph(toks, self.syn_rules) \
                if not self._syn_single else synonyms(toks, self.synonyms)
        out: list[Token] = []
        for t in toks:
            stems = self._stem(t.term)
            out.append(t._replace(term=stems[0]))
            for extra in stems[1:]:  # lemma stacks at the same position
                out.append(t._replace(term=extra, pos_inc=0))
        return out

    # ---- fast term stream (memoized per unique raw token) ---------------
    def _pipe(self, raw: str) -> tuple[str, ...]:
        toks = [Token(raw, 0, len(raw), 1, 1, TYPE_ALPHANUM)]
        if self.word_delimiter:
            toks = word_delimiter_graph(toks)
        if self.lower:
            toks = lowercase(toks)
        if self.stop_words:
            toks = stop(toks, self.stop_words)
        if self.synonyms:
            toks = synonyms(toks, self.synonyms)
        return tuple(s for t in toks for s in self._stem(t.term))

    def terms(self, text: str) -> list[str]:
        if self.synonyms and not self._syn_single:
            # a rule crossing token boundaries can't use the per-raw
            # memoized pipe — run the full graph chain
            return [t.term for t in self.tokens(text)]
        if self.char_map is not None:
            text = self.char_map.apply(text)
        out: list[str] = []
        for s, e, ttype in token_spans(text):
            if e - s > MAX_TOKEN_LEN:
                continue
            raw = text[s:e]
            if ttype is TYPE_ALPHANUM or ttype is TYPE_NUM:
                out.extend(self._pipe_cache[raw])
            else:
                out.append(raw.lower())
        return out

    # ---- Spark surface ----------------------------------------------------
    def term_vectors_udf(self):
        from .chain import TERM_VECTOR_SCHEMA

        def series(texts: pd.Series) -> pd.DataFrame:
            terms_col, dl_col = [], []
            for text in texts:
                ts = self.terms(text or "")
                terms_col.append(sorted(Counter(ts).items()))
                dl_col.append(len(ts))
            return pd.DataFrame({"terms": terms_col, "dl": dl_col})

        return F.pandas_udf(series, TERM_VECTOR_SCHEMA)


DEFAULT_ANALYZER = Analyzer()
