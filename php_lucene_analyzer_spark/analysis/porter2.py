"""Porter2 (Snowball English) stemmer — pure-Python, applied vocabulary-level.

The north star names "Porter/Snowball stemmers"; the reference pulls them
from the non-vendored ``php-tartarus`` dependency (SURVEY.md preamble), so
this is a direct implementation of the PUBLISHED Snowball English
algorithm (snowballstem.org/algorithms/english/stemmer.html), validated by
the golden vectors in tests/fixtures/stemmer_golden.json.

Also implements the reference's stemmer-policy gate: only pure lowercase
ASCII words are stemmed (EnglishLetterDecoderEncoder::checkString,
/root/reference/src/analyses/morphology/english/EnglishLetterDecoderEncoder.php:109-118);
everything else passes through unchanged.
"""

from __future__ import annotations

from .memo import Memo

_VOWELS = frozenset("aeiouy")
_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_LI_ENDINGS = frozenset("cdeghkmnrt")

_EXCEPTIONS = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
_EXCEPTIONS_1A = frozenset(
    ("inning", "outing", "canning", "herring", "earring",
     "proceed", "exceed", "succeed"))

_STEP2 = [  # (suffix, replacement) — longest-match order
    ("ization", "ize"), ("ational", "ate"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"), ("tional", "tion"),
    ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
    ("ation", "ate"), ("alism", "al"), ("aliti", "al"), ("ousli", "ous"),
    ("iviti", "ive"), ("fulli", "ful"), ("enci", "ence"), ("anci", "ance"),
    ("abli", "able"), ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"),
]
_STEP3 = [
    ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
    ("icate", "ic"), ("iciti", "ic"), ("ical", "ic"),
    ("ful", ""), ("ness", ""),
]
_STEP4 = ["ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
          "ism", "ate", "iti", "ous", "ive", "ize", "al", "er", "ic"]


def _is_vowel(w: str, i: int) -> bool:
    return w[i] in _VOWELS


def _regions(w: str) -> tuple[int, int]:
    """(r1, r2) start indices."""
    n = len(w)
    r1 = n
    for pre in ("gener", "commun", "arsen"):
        if w.startswith(pre):
            r1 = len(pre)
            break
    else:
        for i in range(1, n):
            if not _is_vowel(w, i) and _is_vowel(w, i - 1):
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if not _is_vowel(w, i) and _is_vowel(w, i - 1):
            r2 = i + 1
            break
    return r1, r2


def _ends_short_syllable(w: str) -> bool:
    n = len(w)
    if n == 2:
        return _is_vowel(w, 0) and not _is_vowel(w, 1)
    if n >= 3:
        return (not _is_vowel(w, n - 3) and _is_vowel(w, n - 2)
                and w[n - 1] not in _VOWELS and w[n - 1] not in "wxY")
    return False


def _contains_vowel(w: str) -> bool:
    return any(c in _VOWELS for c in w)


def porter2(word: str) -> str:
    w = word
    if len(w) <= 2:
        return w
    if w[0] == "'":
        w = w[1:]
    if w in _EXCEPTIONS:
        return _EXCEPTIONS[w]
    # mark consonant-y as Y
    chars = list(w)
    if chars and chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _VOWELS:
            chars[i] = "Y"
    w = "".join(chars)
    r1, r2 = _regions(w)

    def in_r1(stem_len: int) -> bool:
        return stem_len >= r1

    def in_r2(stem_len: int) -> bool:
        return stem_len >= r2

    # step 0
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ied") or w.endswith("ies"):
        w = w[:-2] if len(w) > 4 else w[:-1]
    elif w.endswith("ss") or w.endswith("us"):
        pass
    elif w.endswith("s"):
        if any(c in _VOWELS for c in w[:-2]):
            w = w[:-1]
    if w in _EXCEPTIONS_1A:
        return w.replace("Y", "y")
    # step 1b
    if w.endswith("eedly"):
        if in_r1(len(w) - 5):
            w = w[:-3]
    elif w.endswith("eed"):
        if in_r1(len(w) - 3):
            w = w[:-1]
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if _contains_vowel(stem):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_DOUBLES):
                        w = w[:-1]
                    elif r1 >= len(w) and _ends_short_syllable(w):
                        # word is short: R1 null + ends in a short syllable
                        w += "e"
                break
    # step 1c
    if (len(w) > 2 and w[-1] in "yY" and w[-2] not in _VOWELS):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if in_r1(len(w) - len(suf)):
                w = w[: -len(suf)] + rep
            break
    else:
        if w.endswith("ogi"):
            if in_r1(len(w) - 3) and len(w) >= 4 and w[-4] == "l":
                w = w[:-1]
        elif w.endswith("li"):
            if in_r1(len(w) - 2) and w[-3] in _LI_ENDINGS:
                w = w[:-2]
    # step 3
    for suf, rep in _STEP3:
        if w.endswith(suf):
            if in_r1(len(w) - len(suf)):
                w = w[: -len(suf)] + rep
            break
    else:
        if w.endswith("ative"):
            if in_r1(len(w) - 5) and in_r2(len(w) - 5):
                w = w[:-5]
    # step 4
    for suf in _STEP4:
        if w.endswith(suf):
            if in_r2(len(w) - len(suf)):
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("ion"):
            if in_r2(len(w) - 3) and len(w) >= 4 and w[-4] in "st":
                w = w[:-3]
    # step 5
    if w.endswith("e"):
        stem_len = len(w) - 1
        if in_r2(stem_len) or (in_r1(stem_len)
                               and not _ends_short_syllable(w[:-1])):
            w = w[:-1]
    elif w.endswith("ll") and in_r2(len(w) - 1):
        w = w[:-1]
    return w.replace("Y", "y")


_IS_PLAIN = frozenset("abcdefghijklmnopqrstuvwxyz")


# stem unique terms, never per token (the reference hints at this with
# its md5 memo, src/analyses/morphology/Morphology.php:94-99)
STEM_CACHE = Memo(lambda term: porter2(term)
                  if all(c in _IS_PLAIN for c in term) else term, 2_000_000)


def stem(term: str) -> str:
    return STEM_CACHE[term]
