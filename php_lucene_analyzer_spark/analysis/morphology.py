"""Dictionary-morphology lemmatizer (SURVEY §2 A8-A11).

Reimplements the reference's Morphology model
(/root/reference/src/analyses/morphology/Morphology.php:17-275,
Heuristic.php:23-43, LuceneMorphology.php, english/russian letter codecs)
from scratch:

* model = sorted array of REVERSED dictionary words (the "separators"),
  each mapped to a set of Heuristics {suffix_len, replacement_suffix,
  tags}; lookup = binary search for the rightmost separator <= the
  reversed input (findRuleId :92-131), generalizing by shared suffix;
* a Heuristic rewrites "strip N chars, append suffix"
  (Heuristic::transformWord :37-43); identity fallback when nothing
  applies (:69-74);
* letter codecs pack <=6 letters into base-N ints (A11: English base-28
  incl. dash, Russian base-34 with ё->е folding) — kept for parity and
  property-tested, though the engine binary-searches the reversed strings
  directly (the base-N encoding is order-preserving, so both orders
  coincide; the int packing was a PHP/Java memory trick);
* PLUS a model BUILDER from (word, lemma, tags) training rows — the
  reference only reads a prebuilt morph.info; building one from a lemma
  table is the from-scratch equivalent (same on-disk semantics).

EnglishStemmer policy (A10, EnglishStemmer.php:24-41): one normal form ->
use it; several -> drop the identity form and use the survivor iff
unique, else keep the word.  (Documented divergence per SURVEY §7.6: the
reference's `array_search` truthiness bug keeps the identity form when it
sits at index 0; we implement the intended semantics.)
"""

from __future__ import annotations

import bisect
from dataclasses import dataclass

import numpy as np

from .memo import Memo

# ---------------------------------------------------------------- codecs

_EN_ALPHABET = "-abcdefghijklmnopqrstuvwxyz"          # base 28 with NUL=0
_RU_ALPHABET = "-абвгдежзийклмнопрстуфхцчшщъыьэюя"    # ё folded to е


class LetterCodec:
    """Base-N packing of <=6 letters per int (A11)."""

    def __init__(self, alphabet: str):
        self.alphabet = alphabet
        self.base = len(alphabet) + 1
        self.idx = {c: i + 1 for i, c in enumerate(alphabet)}

    def check(self, word: str) -> bool:
        return bool(word) and all(c in self.idx for c in word)

    def encode(self, word: str) -> tuple[int, ...]:
        out = []
        for i in range(0, len(word), 6):
            v = 0
            for c in word[i:i + 6]:
                v = v * self.base + self.idx[c]
            out.append(v)
        return tuple(out)

    def decode(self, blocks: tuple[int, ...]) -> str:
        chars = []
        for v in blocks:
            seg = []
            while v:
                seg.append(self.alphabet[(v % self.base) - 1])
                v //= self.base
            chars.extend(reversed(seg))
        return "".join(chars)


ENGLISH_CODEC = LetterCodec(_EN_ALPHABET)
RUSSIAN_CODEC = LetterCodec(_RU_ALPHABET)


def russian_clean(word: str) -> str:
    """ё->е folding (RussianLetterDecoderEncoder::cleanString :130-133)."""
    return word.replace("ё", "е")


# ------------------------------------------------------------------ model

@dataclass(frozen=True)
class Heuristic:
    suffix_len: int
    replacement: str
    tags: str = ""

    def transform(self, word: str) -> str:
        if self.suffix_len > len(word):
            return word
        return word[: len(word) - self.suffix_len] + self.replacement


class Morphology:
    """separators (sorted reversed words) -> heuristic sets."""

    def __init__(self, separators: list[str],
                 rules: list[tuple[Heuristic, ...]],
                 codec: LetterCodec = ENGLISH_CODEC):
        assert separators == sorted(separators)
        self.separators = separators
        self.rules = rules
        self.codec = codec

    # -- lookup (findRuleId, Morphology.php:92-131) ----------------------
    def _rule_block(self, word: str) -> tuple[Heuristic, ...] | None:
        rev = word[::-1]
        i = bisect.bisect_right(self.separators, rev) - 1
        if i < 0:
            return None
        # generalize only while the separator shares a suffix with word
        sep = self.separators[i]
        common = 0
        for a, b in zip(sep, rev):
            if a != b:
                break
            common += 1
        if common == 0:
            return None
        return self.rules[i]

    def normal_forms(self, word: str) -> list[str]:
        if not self.codec.check(word):
            return [word]
        block = self._rule_block(word)
        out: list[str] = []
        if block:
            for h in block:
                if h.suffix_len <= len(word):
                    f = h.transform(word)
                    if f and f not in out:
                        out.append(f)
        if not out:
            out.append(word)  # identity fallback (:69-74)
        return out

    def morph_info(self, word: str) -> list[tuple[str, str]]:
        """(normal form, grammar tags) pairs (getMorphInfo :79-90)."""
        if not self.codec.check(word):
            return [(word, "")]
        block = self._rule_block(word)
        if not block:
            return [(word, "")]
        return [(h.transform(word), h.tags) for h in block
                if h.suffix_len <= len(word)]

    # -- builder -----------------------------------------------------------
    @classmethod
    def build(cls, rows: list[tuple[str, str] | tuple[str, str, str]],
              codec: LetterCodec = ENGLISH_CODEC) -> "Morphology":
        """Build from (word, lemma[, tags]) training rows: per word, the
        heuristic is (len(word)-common_prefix, lemma tail); words sharing
        identical heuristic sets share rule blocks (LuceneMorphology::
        readRules dedup, :27-41)."""
        per_word: dict[str, set[Heuristic]] = {}
        for row in rows:
            word, lemma = row[0], row[1]
            tags = row[2] if len(row) > 2 else ""
            if not codec.check(word) or not codec.check(lemma):
                continue
            common = 0
            for a, b in zip(word, lemma):
                if a != b:
                    break
                common += 1
            h = Heuristic(len(word) - common, lemma[common:], tags)
            per_word.setdefault(word, set()).add(h)
        seps = sorted(per_word, key=lambda w: w[::-1])
        interned: dict[frozenset, tuple[Heuristic, ...]] = {}
        rules = []
        for w in seps:
            key = frozenset(per_word[w])
            if key not in interned:
                interned[key] = tuple(sorted(
                    per_word[w], key=lambda h: (h.suffix_len, h.replacement)))
            rules.append(interned[key])
        return cls([w[::-1] for w in seps], rules, codec)


# ------------------------------------------ morph.info (reference format)

_SUFFIX_LEN = 6  # letters per encoded block (SUFFIX_LENGTH)


def _en_encode_block(s: str) -> int:
    """EnglishLetterDecoderEncoder::encode (english/
    EnglishLetterDecoderEncoder.php:24-45): a->1..z->26, '-'->27,
    base-28 polynomial ZERO-PADDED to 6 chars — fixed width makes int
    comparison == padded lexicographic comparison."""
    r = 0
    for ch in s:
        c = 27 if ch == "-" else ord(ch) - 96
        if c < 1 or c > 27:
            raise ValueError(f"not a small english letter: {ch!r}")
        r = r * 28 + c
    for _ in range(len(s), _SUFFIX_LEN):
        r *= 28
    return r


def en_encode_to_array(s: str) -> tuple[int, ...]:
    """encodeToArray (:47-57): 6-char blocks, last one padded."""
    out = []
    while len(s) > _SUFFIX_LEN:
        out.append(_en_encode_block(s[:_SUFFIX_LEN]))
        s = s[_SUFFIX_LEN:]
    out.append(_en_encode_block(s))
    return tuple(out)


class MorphInfoModel:
    """Deserializer + exact lookup for the reference's shipped morph.info
    model (english/morph.info, 55 457 separators).

    Mirrors Morphology.php line by line: the text layout read by
    readFromInputStream (:187-247 — separator int-arrays, rulesId, rules
    as "suffixLen|suffix|formInfo|normalInfo" strings, grammarInfo),
    LuceneMorphology::readRules per-block heuristic dedup (:27-41 — first
    occurrence of each (suffix, suffixLen) wins), findRuleId's floor
    binary search over int-arrays (:92-131; compareToInts :134-143 ==
    Python tuple comparison since blocks are fixed-width), and
    getNormalForms' empty-string fallback (:58-77 — an empty transform
    contributes the input word once).  No common-suffix requirement: any
    word generalizes to the nearest preceding separator, exactly like
    the reference."""

    def __init__(self, separators: list[tuple[int, ...]],
                 rules_id: list[int],
                 rules: list[list[tuple[int, str, int, int]]],
                 grammar: list[str]):
        self.separators = separators
        self.rules_id = rules_id
        self.rules = rules
        self.grammar = grammar

    @classmethod
    def parse(cls, text: str) -> "MorphInfoModel":
        it = iter(text.split("\n"))
        amount = int(next(it))
        seps = []
        for _ in range(amount):
            ln = int(next(it))
            seps.append(tuple(int(next(it)) for _ in range(ln)))
        rules_id = [int(next(it)) for _ in range(amount)]
        nrules = int(next(it))
        rules = []
        for _ in range(nrules):
            rl = int(next(it))
            block, seen = [], set()
            for _ in range(rl):
                p = next(it).split("|")
                h = (int(p[0]), p[1], int(p[2]), int(p[3]))
                if (h[0], h[1]) not in seen:       # modifyHeuristic dedup
                    seen.add((h[0], h[1]))
                    block.append(h)
            rules.append(block)
        ngram = int(next(it))
        grammar = [next(it) for _ in range(ngram)]
        return cls(seps, rules_id, rules, grammar)

    @classmethod
    def load(cls, path: str) -> "MorphInfoModel":
        with open(path, encoding="utf-8") as f:
            return cls.parse(f.read())

    def serialize(self) -> str:
        """The writeToFile text layout (Morphology.php:145-176) —
        parse(serialize(m)) reproduces the model (modulo the read-side
        heuristic dedup, which is idempotent)."""
        out = [str(len(self.separators))]
        for sep in self.separators:
            out.append(str(len(sep)))
            out.extend(str(v) for v in sep)
        out.extend(str(r) for r in self.rules_id)
        out.append(str(len(self.rules)))
        for block in self.rules:
            out.append(str(len(block)))
            out.extend(f"{sl}|{repl}|{fi}|{ni}"
                       for sl, repl, fi, ni in block)
        out.append(str(len(self.grammar)))
        out.extend(self.grammar)
        return "\n".join(out) + "\n"

    def check(self, word: str) -> bool:
        return bool(word) and all(
            c == "-" or "a" <= c <= "z" for c in word)

    def _rule_block(self, word: str):
        ints = en_encode_to_array(word[::-1])
        i = bisect.bisect_right(self.separators, ints) - 1
        if i < 0:
            return None  # below the first separator (unreachable for a-z)
        return self.rules[self.rules_id[i]]

    def normal_forms(self, word: str) -> list[str]:
        if not self.check(word):
            return [word]
        block = self._rule_block(word)
        if block is None:
            return [word]
        out: list[str] = []
        seen_empty = False
        for suffix_len, repl, _fi, _ni in block:
            if suffix_len > len(word):
                e = word                       # transformWord guard
            else:
                e = word[: len(word) - suffix_len] + repl
            # NO dedup — getNormalForms appends every nonempty transform
            # (:64-72); downstream policies see the raw multiset
            if e:
                out.append(e)
            elif not seen_empty:
                out.append(word)
                seen_empty = True
        return out or [word]

    def morph_info(self, word: str) -> list[tuple[str, str]]:
        """(form, grammar tag) pairs (getMorphInfo :79-90)."""
        if not self.check(word):
            return [(word, "")]
        block = self._rule_block(word) or []
        out = []
        for suffix_len, repl, fi, _ni in block:
            e = word if suffix_len > len(word) \
                else word[: len(word) - suffix_len] + repl
            out.append((e, self.grammar[fi] if fi < len(self.grammar) else ""))
        return out


class EnglishStemmerPolicy:
    """A10 tie-break (EnglishStemmer.php:24-41)."""

    def __init__(self, morph: Morphology):
        self.morph = morph
        self._cache = Memo(self._stem, 1_000_000)

    def stem(self, word: str) -> str:
        return self._cache[word]

    def _stem(self, word: str) -> str:
        forms = self.morph.normal_forms(word)
        if len(forms) == 1:
            s = forms[0]
        else:
            # remove exactly ONE identity occurrence (EnglishStemmer.php
            # :33 unsets a single array element; normal_forms does not
            # dedup, so duplicate identities must leave survivors behind)
            survivors = list(forms)
            if word in survivors:
                survivors.remove(word)
            s = survivors[0] if len(survivors) == 1 else word
        return s


def lemma_expand(tokens, morph: Morphology):
    """MorphologyFilter semantics (A8): each term replaced by its normal
    form(s); multiple lemmas stack at the SAME position (pos_inc 0 for the
    2nd+, MorphologyFilter.php:36,59-63)."""
    out = []
    for t in tokens:
        forms = morph.normal_forms(t.term)
        out.append(t._replace(term=forms[0]))
        for extra in forms[1:]:
            out.append(t._replace(term=extra, pos_inc=0))
    return out
