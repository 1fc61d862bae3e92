"""Seeded inputs: a Zipf source-code corpus and the query streams.

Everything here is a pure function of the seed, so one seed always gives
the same documents and the same queries.  Nothing is taken from the
package under test: its own synthetic corpus may change with the code,
the benchmark's inputs must not.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 100_000
ZIPF_S = 1.1

_CONS = list("bcdfghjklmnprstvwz") + ["ch", "sh", "th", "tr", "st", "pl"]
_VOWS = list("aeiou") + ["ai", "ou", "ea"]
_KEYWORDS = ["public", "private", "static", "function", "class", "return",
             "import", "const", "final", "throw", "new", "while", "switch",
             "case", "default", "void", "int", "string", "bool", "null"]
_STOPWORDS = ["the", "a", "of", "to", "and", "is", "this", "that", "with",
              "for", "on", "in", "it", "be", "an", "as"]
_LANGS = ["php", "java", "py", "go", "js", "rs"]


def _stems(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-words of 2-3 syllables."""
    out: dict[str, None] = {}
    while len(out) < n:
        k = int(rng.integers(2, 4))
        w = "".join(_CONS[int(rng.integers(len(_CONS)))]
                    + _VOWS[int(rng.integers(len(_VOWS)))]
                    for _ in range(k))
        out.setdefault(w)
    return list(out)


def _style(parts: list[str], style: int) -> str:
    if style == 0:                      # camelCase
        return parts[0] + "".join(p.capitalize() for p in parts[1:])
    if style == 1:                      # snake_case
        return "_".join(parts)
    if style == 2:                      # SCREAMING_SNAKE
        return "_".join(parts).upper()
    if style == 3:                      # PascalCase
        return "".join(p.capitalize() for p in parts)
    return "".join(parts)               # plain lowercase compound


class Vocabulary:
    """``VOCAB_SIZE`` identifiers drawn by Zipf(``ZIPF_S``) rank weight.

    Identifiers are compounds of 1-3 pseudo-word stems in camel, snake,
    SCREAMING, Pascal or plain style, so the analyzer's word-delimiter
    stage emits both the whole identifier and its parts.  The vocabulary
    is the corpus's fixed "language": it does not depend on the seed, so
    seeds differ in the documents and queries drawn from it, not in how
    long or how compound its most frequent identifiers happen to be."""

    def __init__(self):
        rng = np.random.default_rng([0, 1])
        stems = _stems(rng, 4_000)
        seen: dict[str, None] = {}
        while len(seen) < VOCAB_SIZE:
            ks = rng.choice([1, 2, 2, 3], size=VOCAB_SIZE)
            picks = rng.integers(len(stems), size=(VOCAB_SIZE, 3))
            styles = rng.integers(5, size=VOCAB_SIZE)
            for k, p, st in zip(ks.tolist(), picks.tolist(), styles.tolist()):
                seen.setdefault(_style([stems[i] for i in p[:k]], st))
                if len(seen) == VOCAB_SIZE:
                    break
        self.idents = np.array(list(seen), dtype=object)
        self.stems = np.array(stems, dtype=object)
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(w / w.sum())
        sw = 1.0 / np.arange(1, len(stems) + 1, dtype=np.float64) ** ZIPF_S
        self._stem_cdf = np.cumsum(sw / sw.sum())

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        i = np.searchsorted(self._cdf, rng.random(n), side="right")
        return self.idents[np.minimum(i, VOCAB_SIZE - 1)]

    def draw_words(self, rng: np.random.Generator, n: int) -> np.ndarray:
        i = np.searchsorted(self._stem_cdf, rng.random(n), side="right")
        return self.stems[np.minimum(i, len(self.stems) - 1)]


def _doc(rng: np.random.Generator, vocab: Vocabulary, n_lines: int) -> str:
    ids = iter(vocab.draw(rng, 4 * n_lines))
    words = iter(vocab.draw_words(rng, 4 * n_lines))
    kinds = rng.integers(6, size=n_lines)
    kws = rng.integers(len(_KEYWORDS), size=n_lines)
    sws = rng.integers(len(_STOPWORDS), size=n_lines)
    lines = []
    for kind, kw, sw in zip(kinds, kws, sws):
        kw, sw = _KEYWORDS[kw], _STOPWORDS[sw]
        if kind == 0:
            lines.append(f"{kw} function {next(ids)}(${next(ids)}, "
                         f"${next(ids)}) {{")
        elif kind == 1:
            lines.append(f"    ${next(ids)} = ${next(ids)}->"
                         f"{next(ids)}({next(ids)});")
        elif kind == 2:
            lines.append(f"    // {next(words)} {next(words)} {sw} "
                         f"{next(words)} {next(words)}")
        elif kind == 3:
            lines.append(f"    return {next(ids)}::{next(ids)}"
                         f"({next(ids)}[{int(rng.integers(64))}]);")
        elif kind == 4:
            lines.append(f"    if (${next(ids)} === {next(ids)}) "
                         f"{{ {kw} {next(ids)}; }}")
        else:
            lines.append("}")
    return "\n".join(lines)


def corpus(seed: int, n_docs: int, vocab: Vocabulary,
           first: int = 0) -> pd.DataFrame:
    """Documents ``first .. first+n_docs-1`` of the seed's corpus:
    (repo, path, lang, content).  Each document is a pure function of
    (seed, its number), so slices never overlap and never repeat."""
    rows = []
    for d in range(first, first + n_docs):
        rng = np.random.default_rng([seed, 2, d])
        lang = _LANGS[d % len(_LANGS)]
        n_lines = int(np.clip(rng.lognormal(3.1, 0.5), 4, 200))
        name = vocab.draw(rng, 1)[0]
        rows.append((f"repo{d % 97:02d}", f"src/{d:07d}/{name}.{lang}", lang,
                     _doc(rng, vocab, n_lines)))
    return pd.DataFrame(rows, columns=["repo", "path", "lang", "content"])


class QueryGen:
    """Seeded query streams over an index's own term dictionary.

    ``terms`` are the dictionary's terms sorted by df descending (each
    one a fixed point of the analysis chain); ``phrases`` are adjacent
    word pairs that occur in the corpus.  Terms are drawn at random; the
    query shapes cycle in a fixed order (2 or 3 search terms, six
    query() forms), so every stretch of the stream has the same mix."""

    def __init__(self, seed: int, terms: list[str],
                 phrases: list[tuple[str, str]]):
        self.rng = np.random.default_rng([seed, 3])
        self.terms = terms
        self.phrases = phrases
        self._n_search = self._n_query = 0
        w = 1.0 / np.arange(1, len(terms) + 1, dtype=np.float64) ** ZIPF_S
        self._cdf = np.cumsum(w / w.sum())

    def _t(self, n: int = 1) -> list[str]:
        i = np.searchsorted(self._cdf, self.rng.random(n), side="right")
        return [self.terms[min(int(j), len(self.terms) - 1)] for j in i]

    def search(self) -> str:
        self._n_search += 1
        return " ".join(self._t(2 + self._n_search % 2))

    def query(self) -> str:
        a, b, c = self._t(3)
        kind = self._n_query % 6
        self._n_query += 1
        if kind == 0:
            return f"+{a} {b} -{c}"
        if kind == 1:
            return f"{a} AND {b}"
        if kind == 2:
            return f"{a} OR {b} OR {c}"
        if kind == 3:
            return f"{a[:3]}* {b}"
        if kind == 4:
            return f"{a}~1 {b}"
        p, q = self.phrases[int(self.rng.integers(len(self.phrases)))]
        return f"\"{p} {q}\" {a}"
