"""Word-delimiter graph filter (camelCase / snake_case / product-code splitter).

Reimplements the output contract of the reference's
WordDelimiterGraphFilter + WordDelimiterIterator
(/root/reference/src/analyses/WordDelimiterGraphFilter.php:64-655,
WordDelimiterIterator.php:11-408) with the flag set the reference's
constructor FORCES regardless of the caller's argument
(WordDelimiterGraphFilter.php:182-220):

    GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS | SPLIT_ON_CASE_CHANGE |
    SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE | PRESERVE_ORIGINAL

Break rules (WordDelimiterIterator::isBreak :214-236):
* at any non-alphanumeric delimiter char (consumed, not emitted);
* at a lower->UPPER case change;
* at a letter<->digit transition;
* inside an UPPER run followed by lower, before the last UPPER
  ("HTTPServer" -> HTTP | Server);
* a trailing ``'s`` is stripped from subwords (:278-286).

Graph semantics: when a token splits, the ORIGINAL is emitted first at the
incoming position spanning pos_len = #parts; parts follow at +0, +1, ...
increments (PositionSorter contract, WordDelimiterGraphFilter.php:615-655).
A token that yields exactly itself passes through unchanged.
"""

from __future__ import annotations

import unicodedata

from .memo import Memo
from .tokenizer import TYPE_ALPHANUM, TYPE_NUM, Token

_LOWER, _UPPER, _DIGIT, _DELIM = 0, 1, 2, 3


def _char_class(ch: str) -> int:
    cat = unicodedata.category(ch)
    if cat == "Lu":
        return _UPPER
    if cat == "Nd" or cat == "Nl":
        return _DIGIT
    if cat.startswith("L") or cat.startswith("M"):
        return _LOWER  # lower/title/modifier/other letters + marks -> ALPHA
    return _DELIM


def split_word(term: str, split_on_case_change: bool = True,
               split_on_numerics: bool = True,
               stem_possessive: bool = True,
               char_type_fn=None) -> list[tuple[str, int, int]]:
    """Return subword parts as (text, rel_start, rel_end) after delimiter
    removal, case/numeric splits, and possessive stripping.

    ``char_type_fn``: optional char -> class override — Lucene's custom
    ``charTypeTable`` constructor argument (the reference accepts one
    too, src/analyses/WordDelimiterGraphFilter.php:182, though its
    forced-default bug makes it unreachable there); return one of
    CHAR_LOWER / CHAR_UPPER / CHAR_DIGIT / CHAR_DELIM, or None to fall
    through to the Unicode-category default."""
    n = len(term)
    if char_type_fn is None:
        cls = [_char_class(c) for c in term]
    else:
        cls = [t if (t := char_type_fn(c)) is not None else _char_class(c)
               for c in term]
    parts: list[tuple[str, int, int]] = []
    i = 0
    while i < n:
        if cls[i] == _DELIM:
            i += 1
            continue
        j = i + 1
        while j < n and cls[j] != _DELIM:
            prev_c, cur_c = cls[j - 1], cls[j]
            if split_on_case_change and (prev_c == _LOWER
                                         and cur_c == _UPPER):
                break  # case change
            if split_on_numerics and (prev_c == _DIGIT) != (cur_c == _DIGIT):
                break  # letter <-> digit
            if split_on_case_change and (
                    prev_c == _UPPER and cur_c == _UPPER
                    and j + 1 < n and cls[j + 1] == _LOWER):
                break  # ACRONYMWord: break before final upper
            j += 1
        s, e = i, j
        if e - s > 0:
            parts.append((term[s:e], s, e))
        # possessive stripping after EVERY subword, not only the last:
        # a subword followed by 's + (end | delimiter) swallows the 's
        # (WordDelimiterIterator::next :158-160 sets skipPossessive;
        # endsWithPossessive :278-286 — ASCII apostrophe only)
        if (stem_possessive and e + 1 < n and term[e] == "'"
                and term[e + 1] in ("s", "S")
                and (e + 2 == n or cls[e + 2] == _DELIM)):
            i = e + 2
        else:
            i = j
    return parts


# term -> parts (mirrors the reference's char-class cache idea,
# WordDelimiterIterator.php:295-304)
_CACHE = Memo(split_word, 1_000_000)

# public char classes for custom charTypeTable functions (split_word)
CHAR_LOWER, CHAR_UPPER, CHAR_DIGIT, CHAR_DELIM = (_LOWER, _UPPER,
                                                  _DIGIT, _DELIM)

# Lucene WordDelimiterGraphFilter flag bits (reference
# src/analyses/WordDelimiterGraphFilter.php:72-125 defines the same
# constants; its constructor bug :182-220 makes non-defaults
# unreachable THERE — these are Lucene-parity beyond the reference)
GENERATE_WORD_PARTS = 1
GENERATE_NUMBER_PARTS = 2
CATENATE_WORDS = 4
CATENATE_NUMBERS = 8
CATENATE_ALL = 16
PRESERVE_ORIGINAL = 32
SPLIT_ON_CASE_CHANGE = 64
SPLIT_ON_NUMERICS = 128
STEM_ENGLISH_POSSESSIVE = 256

# the flag set the reference's constructor FORCES (module docstring)
DEFAULT_FLAGS = (GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS
                 | SPLIT_ON_CASE_CHANGE | SPLIT_ON_NUMERICS
                 | STEM_ENGLISH_POSSESSIVE | PRESERVE_ORIGINAL)


def _part_kind(text: str) -> str:
    """'num' when every char is a digit, else 'word' (Lucene's part
    typing for the catenate buffers)."""
    return "num" if text.isdigit() else "word"


def word_delimiter_graph(tokens: list[Token],
                         flags: int = DEFAULT_FLAGS,
                         char_type_fn=None) -> list[Token]:
    """WDGF over a token stream.  Default ``flags`` reproduce the
    reference's forced behavior bit-for-bit; CATENATE_WORDS /
    CATENATE_NUMBERS / CATENATE_ALL additionally emit runs of adjacent
    same-kind parts joined together ("wi-fi" -> "wifi"), positioned at
    the run's first part spanning pos_len = #parts (longest-span-first
    at each position — the PositionSorter order).  Catenations emit
    only for runs of >= 2 parts (a 1-part run is already covered by the
    part/original).  ``char_type_fn`` customizes char classes
    (charTypeTable role)."""
    default_path = flags == DEFAULT_FLAGS and char_type_fn is None
    out: list[Token] = []
    for tok in tokens:
        if tok.type not in (TYPE_ALPHANUM, TYPE_NUM):
            out.append(tok)
            continue
        if default_path:
            parts = _CACHE[tok.term]
        else:
            parts = split_word(
                tok.term,
                split_on_case_change=bool(flags & SPLIT_ON_CASE_CHANGE),
                split_on_numerics=bool(flags & SPLIT_ON_NUMERICS),
                stem_possessive=bool(flags & STEM_ENGLISH_POSSESSIVE),
                char_type_fn=char_type_fn)
        if len(parts) == 1 and parts[0][0] == tok.term:
            out.append(tok)
            continue
        if not parts:
            # nothing generable (pure-delimiter term cannot reach here from
            # the tokenizer, but keep the original to be safe)
            out.append(tok)
            continue
        # catenation runs: (start_part_idx, n_parts, text, rs, re)
        cats: dict[int, list[tuple[int, str, int, int]]] = {}
        if flags & (CATENATE_WORDS | CATENATE_NUMBERS | CATENATE_ALL):
            def add_run(run):
                if len(run) >= 2:
                    k0 = run[0][0]
                    text = "".join(p[1] for p in run)
                    cats.setdefault(k0, []).append(
                        (len(run), text, run[0][2], run[-1][3]))

            for want, flag in (("word", CATENATE_WORDS),
                               ("num", CATENATE_NUMBERS),
                               (None, CATENATE_ALL)):
                if not flags & flag:
                    continue
                run = []
                for k, (text, rs, re_) in enumerate(parts):
                    if want is None or _part_kind(text) == want:
                        run.append((k, text, rs, re_))
                    else:
                        add_run(run)
                        run = []
                add_run(run)

        # emission: original (span all) first, then per position:
        # catenations (longer first), then the part
        emitted_any = False
        if flags & PRESERVE_ORIGINAL:
            out.append(Token(tok.term, tok.start, tok.end, tok.pos_inc,
                             len(parts), tok.type))
            emitted_any = True
        for k, (text, rs, re_) in enumerate(parts):
            at_pos: list[Token] = []
            # set-dedupe: CATENATE_WORDS|CATENATE_ALL (or NUMBERS|ALL)
            # buffer the same run twice and would emit the identical
            # catenated token twice, doubling its tf (Lucene suppresses
            # the duplicate via its lastConcatCount guard; review fix)
            for span, ctext, crs, cre in sorted(set(cats.get(k, ())),
                                                reverse=True):
                at_pos.append(Token(ctext, tok.start + crs,
                                    tok.start + cre, 0, span, tok.type))
            gen = (GENERATE_NUMBER_PARTS if _part_kind(text) == "num"
                   else GENERATE_WORD_PARTS)
            if flags & gen:
                at_pos.append(Token(text, tok.start + rs,
                                    tok.start + re_, 0, 1, tok.type))
            for t in at_pos:
                inc = (0 if emitted_any and k == 0 else
                       (tok.pos_inc if not emitted_any else 1)) \
                    if t is at_pos[0] else 0
                out.append(t._replace(pos_inc=inc))
                emitted_any = True
    return out
