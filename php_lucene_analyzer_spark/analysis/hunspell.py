"""Hunspell dictionary loader + affix-stripping stemmer (SURVEY §2 A12-A14).

From-scratch reimplementation of the BEHAVIOR of the reference's
Hunspell stack (/root/reference/src/analyses/hunspell/Dictionary.php:12-1371,
Stemmer.php:9-699, HunspellStemFilter.php:14-90) in plain Python data
structures — not a port of its byte-packed affix records / FST machinery
(those exist to save memory in PHP; here dicts + broadcast do the job,
and the stemmer runs per UNIQUE vocabulary term inside pandas UDFs, never
per token).

Supported .aff features (the set the reference parses): SET encoding,
FLAG long|num|UTF-8 strategies (Dictionary.php:903-921), PFX/SFX with
cross-product, strip, append, condition patterns, continuation classes on
the append (`ive/XY`), AF flag aliases (:1204-1225), ICONV/OCONV greedy
longest-match rewrites (:760-826, 1332-1370), IGNORE chars (:482-489),
KEEPCASE / NEEDAFFIX / ONLYINCOMPOUND / FORBIDDENWORD gates
(Stemmer.php:173-207).

Stemming semantics (Stemmer.php): case-variant union (exact / title /
lower, :89-151); dictionary hits filtered by gate flags; one prefix and
up to two suffixes stripped recursively with cross-product and
continuation-class checks (:296-685); conditions checked on
strip+remainder (:542-583); results deduped preserving first-seen order
(:216-232).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .memo import Memo


@dataclass
class Affix:
    flag: str
    cross: bool
    strip: str
    append: str
    cont_flags: frozenset[str]
    cond: re.Pattern | None  # None == '.' (always true)


@dataclass
class Dictionary:
    words: dict[str, list[frozenset[str]]] = field(default_factory=dict)
    prefixes: dict[str, list[Affix]] = field(default_factory=dict)  # by append
    suffixes: dict[str, list[Affix]] = field(default_factory=dict)  # by append
    iconv: list[tuple[str, str]] = field(default_factory=list)
    oconv: list[tuple[str, str]] = field(default_factory=list)
    flag_aliases: list[frozenset[str]] = field(default_factory=list)
    # word -> st: stem exception (Stemmer::newStem returns the exception
    # instead of the matched form, Stemmer.php:234-274)
    stem_exceptions: dict[str, str] = field(default_factory=dict)
    ignore: str = ""
    keepcase: str | None = None
    needaffix: str | None = None
    onlyincompound: str | None = None
    forbidden: str | None = None
    circumfix: str | None = None       # CIRCUMFIX flag (Dictionary.php:458-464)
    complex_prefixes: bool = False     # COMPLEXPREFIXES (Dictionary.php:456)
    full_strip: bool = False           # FULLSTRIP (Dictionary.php:505-506)
    two_stage_affix: bool = False      # any affix has continuation classes
    language: str = ""                 # LANG (Dictionary.php:507-509)
    ignore_case: bool = False

    @property
    def alternate_casing(self) -> bool:
        """Turkish/Azeri dotted-I casing (Dictionary.php:509)."""
        return self.language in ("tr_TR", "az_AZ")

    def case_fold(self, c: str) -> str:
        """Single-char fold per LANG (Dictionary::caseFold :1309-1324):
        tr/az map I -> dotless ı and İ -> i; everything else lowercases."""
        if self.alternate_casing:
            if c == "I":
                return "ı"
            if c == "İ":
                return "i"
        return c.lower()

    def lookup(self, word: str) -> list[frozenset[str]] | None:
        return self.words.get(word)


class _FlagParser:
    """single-char (default) / `long` 2-char / `num` comma-int flags
    (Dictionary.php:1377-1479)."""

    def __init__(self, mode: str = "char"):
        self.mode = mode

    def parse(self, s: str) -> frozenset[str]:
        s = s.strip()
        if not s:
            return frozenset()
        if self.mode == "num":
            return frozenset(x.strip() for x in s.split(",") if x.strip())
        if self.mode == "long":
            return frozenset(s[i:i + 2] for i in range(0, len(s) - 1, 2))
        return frozenset(s)


class _ConvTable:
    """Greedy longest-match character conversion (applyMappings
    Dictionary.php:1332-1370) with a first-char index — built once per
    table instead of scanning all pairs at every character (uk_UA: 64
    ICONV pairs x 126k dictionary words)."""

    def __init__(self, pairs: list[tuple[str, str]]):
        self.by_first: dict[str, list[tuple[str, str]]] = {}
        for src, dst in pairs:
            self.by_first.setdefault(src[0], []).append((src, dst))
        for lst in self.by_first.values():
            lst.sort(key=lambda p: -len(p[0]))  # longest match first

    def apply(self, word: str) -> str:
        if not self.by_first:
            return word
        out = []
        i = 0
        while i < len(word):
            for src, dst in self.by_first.get(word[i], ()):
                if word.startswith(src, i):
                    out.append(dst)
                    i += len(src)
                    break
            else:
                out.append(word[i])
                i += 1
        return "".join(out)


def _apply_conv(word: str, table: list[tuple[str, str]]) -> str:
    """Compat wrapper over _ConvTable (hot paths build the table once)."""
    return _ConvTable(table).apply(word) if table else word


def parse_affix_file(text: str) -> tuple[Dictionary, _FlagParser]:
    d = Dictionary()
    flags = _FlagParser()
    aliases: list[frozenset[str]] = []
    af_seen_count = False
    lines = text.splitlines()
    i = 0
    while i < len(lines):
        parts = lines[i].split("#")[0].split()
        i += 1
        if not parts:
            continue
        key = parts[0]
        if key == "FLAG" and len(parts) > 1:
            flags = _FlagParser({"long": "long", "num": "num"}.get(
                parts[1], "char"))
        elif key == "AF":
            # POSITIONAL, like parseAlias (Dictionary.php:1204-1225): the
            # FIRST AF line is the count, every later one is alias data —
            # a numeric alias under FLAG num must not reset the table,
            # and an AF line with no flags maps to the empty set
            if not af_seen_count:
                af_seen_count = True
                aliases = []
            else:
                aliases.append(flags.parse(parts[1])
                               if len(parts) > 1 else frozenset())
        elif key == "IGNORE" and len(parts) > 1:
            d.ignore = parts[1]
        elif key in ("ICONV", "OCONV") and len(parts) == 2 and parts[1].isdigit():
            pass  # count line
        elif key in ("ICONV", "OCONV") and len(parts) >= 3:
            (d.iconv if key == "ICONV" else d.oconv).append(
                (parts[1], parts[2]))
        elif key == "KEEPCASE" and len(parts) > 1:
            d.keepcase = parts[1]
        elif key == "CIRCUMFIX" and len(parts) > 1:
            d.circumfix = parts[1]
        elif key == "COMPLEXPREFIXES":
            d.complex_prefixes = True
        elif key == "FULLSTRIP":
            d.full_strip = True
        elif key == "LANG" and len(parts) > 1:
            d.language = parts[1]
        elif key == "NEEDAFFIX" and len(parts) > 1:
            d.needaffix = parts[1]
        elif key == "ONLYINCOMPOUND" and len(parts) > 1:
            d.onlyincompound = parts[1]
        elif key == "FORBIDDENWORD" and len(parts) > 1:
            d.forbidden = parts[1]
        elif key in ("PFX", "SFX") and len(parts) >= 4 and parts[3].isdigit() \
                and len(parts) == 4:
            # header: PFX flag cross_product count
            flag, cross, count = parts[1], parts[2] == "Y", int(parts[3])
            for _ in range(count):
                while i < len(lines):
                    sub = lines[i].split("#")[0].split()
                    i += 1
                    if sub:
                        break
                else:
                    break
                # rule: PFX flag strip append [condition]
                strip = "" if sub[2] == "0" else sub[2]
                append_raw = sub[3]
                if "/" in append_raw:
                    app, cont_s = append_raw.split("/", 1)
                    if cont_s.isdigit() and aliases:
                        cont = aliases[int(cont_s) - 1]
                    else:
                        cont = flags.parse(cont_s)
                else:
                    app, cont = append_raw, frozenset()
                app = "" if app == "0" else app
                if cont:
                    # continuation classes anywhere enable 2-level affix
                    # stripping (Dictionary.php:659 twoStageAffix)
                    d.two_stage_affix = True
                cond_s = sub[4] if len(sub) > 4 else "."
                if key == "PFX":
                    cond = None if cond_s == "." else re.compile(
                        "^" + cond_s)
                    d.prefixes.setdefault(app, []).append(
                        Affix(flag, cross, strip, app, cont, cond))
                else:
                    cond = None if cond_s == "." else re.compile(
                        cond_s + "$")
                    d.suffixes.setdefault(app, []).append(
                        Affix(flag, cross, strip, app, cont, cond))
    d.flag_aliases = aliases
    return d, flags


def parse_dic_file(text: str, d: Dictionary, flags: _FlagParser) -> None:
    conv = _ConvTable(d.iconv)
    lines = text.splitlines()
    for line in lines[1:]:  # first line = word count
        raw_fields = line.strip().split()
        if not raw_fields or raw_fields[0].startswith("#"):
            continue
        line = raw_fields[0]
        # morph fields after the word: st:<stem> is the stem exception
        st_exc = next((f[3:] for f in raw_fields[1:]
                       if f.startswith("st:")), None)
        if "/" in line:
            word, fs = line.split("/", 1)
            fs = fs.split()[0] if fs.split() else ""
            # with AF aliases defined, a dic flag field is an alias
            # ORDINAL (readDictionaryFiles resolves it the same way the
            # affix continuation `/N` does)
            if d.flag_aliases and fs.isdigit():
                ordn = int(fs)
                fset = (d.flag_aliases[ordn - 1]
                        if 0 < ordn <= len(d.flag_aliases) else frozenset())
            else:
                fset = flags.parse(fs) if fs else frozenset()
        else:
            word, fset = line.split()[0] if line.split() else line, frozenset()
        word = conv.apply(word)
        if d.ignore:
            word = "".join(c for c in word if c not in d.ignore)
        if not word:
            continue
        if d.ignore_case:
            word = word.lower()
        d.words.setdefault(word, []).append(fset)
        if st_exc:
            d.stem_exceptions[word] = st_exc


def load(aff_text: str, dic_texts: list[str],
         ignore_case: bool = False) -> Dictionary:
    d, flags = parse_affix_file(aff_text)
    d.ignore_case = ignore_case
    for t in dic_texts:
        parse_dic_file(t, d, flags)
    return d


# charset aliases the reference maps (Dictionary.php:867-870)
_CHARSET_ALIASES = {"microsoft-cp1251": "windows-1251",
                    "TIS620-2533": "TIS-620"}


def detect_encoding(raw: bytes) -> str:
    """getDictionaryEncoding parity (Dictionary.php:838-879, pattern
    :827): scan for the first `(BOM?)SET <enc>` line, skipping blank and
    `#` lines.  (Divergence noted: the PHP port concatenates non-matching
    lines into one growing buffer before retrying the anchored regex — a
    port bug that only works because SET is the first line in practice;
    we scan per line.)"""
    import re as _re

    for line in raw.split(b"\n"):
        line = line.rstrip(b"\r")
        if not line.strip() or line.startswith(b"#"):
            continue
        m = _re.match(rb"^(\xef\xbb\xbf)?SET[ \t]+", line)
        if m:
            enc = line[m.end():].decode("ascii", "ignore").strip()
            return _CHARSET_ALIASES.get(enc, enc)
    raise ValueError("no SET line found in affix file")


def load_files(aff_path: str, dic_paths: list[str],
               ignore_case: bool = False) -> Dictionary:
    """Load raw .aff/.dic FILES: encoding comes from the affix SET line
    (both files decode with it, exactly like the reference ctor
    Dictionary.php:171-244)."""
    raw = open(aff_path, "rb").read()
    enc = detect_encoding(raw)
    aff = raw.decode(enc).lstrip("﻿")
    dics = [open(p, "rb").read().decode(enc).lstrip("﻿")
            for p in dic_paths]
    return load(aff, dics, ignore_case=ignore_case)


class Stemmer:
    """uniqueStems per the reference's Stemmer.php contract."""

    def __init__(self, d: Dictionary, longest_only: bool = False):
        self.d = d
        self.longest_only = longest_only
        self._iconv = _ConvTable(d.iconv)
        self._oconv = _ConvTable(d.oconv)
        self._cache = Memo(self._unique_stems, 1_000_000)

    # -- public ------------------------------------------------------------
    def unique_stems(self, word: str) -> list[str]:
        return self._cache[word]

    def _unique_stems(self, word: str) -> list[str]:
        # input cleaning FIRST, like the reference (Stemmer.php:91-97 ->
        # Dictionary::cleanInput :1271-1306): ICONV rewrites + IGNORE
        # removal — a Ukrainian word with a combining stress mark must
        # stem like its clean form, since the .dic side was cleaned too
        cleaned = self._iconv.apply(word)
        if self.d.ignore:
            cleaned = "".join(c for c in cleaned if c not in self.d.ignore)
        seen: list[str] = []
        exc = self.d.stem_exceptions
        if cleaned:
            for variant, forbid_keepcase in self._case_variants(cleaned):
                for s in self._stem(variant, forbid_keepcase):
                    # st: stem exception, then OCONV output cleaning —
                    # newStem order (Stemmer.php:234-274)
                    s = exc.get(s, s)
                    s = self._oconv.apply(s)
                    if s not in seen:
                        seen.append(s)
        if self.longest_only and seen:
            seen = [max(seen, key=len)]
        return seen

    # -- internals ----------------------------------------------------------

    def _case_variants(self, w: str):
        """Case-variant union per caseOf/stemWord2 (Stemmer.php:89-151):
        UPPER -> exact + title fold + lower fold; TITLE -> exact + lower
        fold; mixed/lower -> exact only.  Folded variants reject
        KEEPCASE-flagged entries.  Folding goes through
        Dictionary.case_fold, so LANG tr_TR/az_AZ words fold I -> ı and
        İ -> i (alternate casing, Dictionary.php:1309-1324).
        (Divergence noted: the PHP port's isUpperCase regex [A-ZА-ЯЁ]
        (Stemmer.php:120-123) misclassifies Ş/İ/Ә etc. as lowercase —
        breaking the very Turkish/Kazakh dictionaries it ships; we follow
        the Lucene original's Character.isUpperCase.)"""
        yield w, False
        if self.d.ignore_case or not w or not w[0].isupper():
            return
        rest_upper = [c.isupper() for c in w[1:]]
        fold = self.d.case_fold
        if not any(not u for u in rest_upper):  # no lowercase after [0]
            # UPPER_CASE (incl. single-char): title fold then lower fold
            title = w[0] + "".join(fold(c) for c in w[1:])
            yield title, True
            yield fold(title[0]) + title[1:], True
        elif not any(rest_upper):
            # TITLE_CASE: lower fold only
            yield fold(w[0]) + w[1:], True

    def _entry_ok(self, fsets: list[frozenset[str]], affix_flag: str | None,
                  forbid_keepcase: bool) -> bool:
        d = self.d
        for fs in fsets:
            if d.forbidden and d.forbidden in fs:
                continue
            if d.onlyincompound and d.onlyincompound in fs:
                continue
            if forbid_keepcase and d.keepcase and d.keepcase in fs:
                continue
            if affix_flag is None:
                if d.needaffix and d.needaffix in fs:
                    continue  # bare form requires an affix
                return True
            if affix_flag in fs:
                return True
        return False

    def _stem(self, word: str, forbid_keepcase: bool) -> list[str]:
        out: list[str] = []
        entry = self.d.lookup(word)
        if entry and self._entry_ok(entry, None, forbid_keepcase):
            out.append(word)
        out.extend(self._stem_recurse(
            word, previous=None, prev_flag=None, prefix_flag=None, depth=0,
            do_prefix=True, do_suffix=True, previous_was_prefix=False,
            circumfix=False, case_variant=forbid_keepcase))
        return out

    def _candidates(self, word: str, table: dict[str, list[Affix]],
                    is_prefix: bool):
        """All affix rules whose append matches word's edge — INCLUDING
        the zero-length append (strip-only rules like 'SFX V й 0 [їі]й'
        in the shipped ru_RU/uk_UA dictionaries; the reference's suffix
        loop tries the empty suffix first, Stemmer.php:412-425).  Without
        FULLSTRIP an affix may never consume the whole word
        (Stemmer.php:319,407 limits); with it a suffix may."""
        top = len(word) + 1 if (self.d.full_strip and not is_prefix) \
            else len(word)
        for ln in range(0, top):
            edge = word[:ln] if is_prefix else word[len(word) - ln:] \
                if ln else ""
            for a in table.get(edge, ()):
                yield a

    def _affix_compatible(self, a: Affix, depth: int, prev_flag: str | None,
                          match_empty: bool) -> bool:
        """Affix admission per recursion depth (Stemmer.php:356-380,
        471-497): at depth 0 only the ONLYINCOMPOUND gate on the affix's
        own continuation flags applies; deeper steps additionally require
        cross-product and the PREVIOUS affix's flag in this affix's
        continuation class — except a suffix with NO continuation class
        is admitted when the previous removal was a PREFIX
        (hasCrossCheckedFlag matchEmpty=$previousWasPrefix, :497; two
        prefixes or two suffixes must chain explicitly).  (The
        reference's hasCrossCheckedFlag is a no-op port bug —
        `in_array(...) >= 0` is always true in PHP; we implement the
        Lucene original's binarySearch semantics.)"""
        d = self.d
        if depth == 0:
            return not (d.onlyincompound and d.onlyincompound in a.cont_flags)
        if not a.cross:
            return False
        if d.onlyincompound and d.onlyincompound in a.cont_flags:
            return False
        # the CIRCUMFIX flag is a pairing MARKER, not a chain requirement
        # — exclude it from the continuation set before the cross-check
        # (applyAffix verifies the pairing itself); a suffix whose only
        # continuation is the circumfix marker behaves like an unchained
        # suffix after a prefix
        cont = a.cont_flags
        if d.circumfix is not None and d.circumfix in cont:
            cont = cont - {d.circumfix}
        if not cont:
            return match_empty
        return prev_flag in cont

    def _stem_recurse(self, word: str, previous: Affix | None,
                      prev_flag: str | None, prefix_flag: str | None,
                      depth: int, do_prefix: bool, do_suffix: bool,
                      previous_was_prefix: bool, circumfix: bool,
                      case_variant: bool) -> list[str]:
        """Stemmer::stem parity (Stemmer.php:296-585): strip one affix per
        level; COMPLEXPREFIXES flips the budget to 2 prefixes + 1 suffix
        (default: 1 prefix + 2 suffixes); an affix never removes itself
        twice in a chain ($previous skip, :345,466)."""
        d = self.d
        out: list[str] = []
        if do_prefix:
            for a in self._candidates(word, d.prefixes, True):
                if a is previous:
                    continue
                if not self._affix_compatible(a, depth, prev_flag, False):
                    continue
                rest = a.strip + word[len(a.append):]
                if a.cond and not a.cond.search(rest):
                    continue
                out.extend(self._apply_affix(rest, a, None, depth, True,
                                             circumfix, case_variant))
        if do_suffix:
            for a in self._candidates(word, d.suffixes, False):
                if a is previous:
                    continue
                if not self._affix_compatible(a, depth, prev_flag,
                                              previous_was_prefix):
                    continue
                rest = word[: len(word) - len(a.append)] + a.strip
                if a.cond and not a.cond.search(rest):
                    continue
                out.extend(self._apply_affix(rest, a, prefix_flag, depth,
                                             False, circumfix, case_variant))
        return out

    def _apply_affix(self, stripped: str, affix: Affix,
                     prefix_flag: str | None, depth: int, is_prefix: bool,
                     circumfix: bool, case_variant: bool) -> list[str]:
        """applyAffix parity (Stemmer.php:598-685): accept dictionary
        forms carrying the affix flag (with prefix-flag cross-check,
        CIRCUMFIX pairing and KEEPCASE/ONLYINCOMPOUND gates), then
        recurse per the cross-product depth table."""
        d = self.d
        out: list[str] = []
        forms = d.lookup(stripped)
        if forms:
            for fs in forms:
                if affix.flag not in fs:
                    continue
                if d.forbidden and d.forbidden in fs:
                    continue
                # in COMPLEXPREFIXES mode the second prefix was already
                # chained against the first — skip the word-level check
                chained_prefix = d.complex_prefixes and depth == 1 \
                    and is_prefix
                if not chained_prefix and prefix_flag is not None \
                        and prefix_flag not in fs \
                        and prefix_flag not in affix.cont_flags:
                    # prefix may chain through the suffix's continuation
                    continue
                if d.circumfix is not None:
                    # a circumfix-flagged prefix must pair with a
                    # circumfix-flagged suffix and vice versa
                    if circumfix != (d.circumfix in affix.cont_flags):
                        continue
                if case_variant and d.keepcase and d.keepcase in fs:
                    continue
                if d.onlyincompound and d.onlyincompound in fs:
                    continue
                out.append(stripped)
                break  # one acceptance per stripped form
        if d.circumfix is not None and not circumfix and is_prefix:
            circumfix = d.circumfix in affix.cont_flags
        if affix.cross:
            if depth == 0:
                if is_prefix:
                    # first prefix removed: 2nd prefix only under
                    # COMPLEXPREFIXES (and only if affixes chain at all)
                    out.extend(self._stem_recurse(
                        stripped, affix, affix.flag, affix.flag, 1,
                        d.complex_prefixes and d.two_stage_affix, True,
                        True, circumfix, case_variant))
                elif not d.complex_prefixes and d.two_stage_affix:
                    # suffix removed: try a second suffix
                    out.extend(self._stem_recurse(
                        stripped, affix, affix.flag, prefix_flag, 1,
                        False, True, False, circumfix, case_variant))
            elif depth == 1:
                if is_prefix and d.complex_prefixes:
                    # second prefix removed: go look for the suffix
                    out.extend(self._stem_recurse(
                        stripped, affix, affix.flag, affix.flag, 2,
                        False, True, True, circumfix, case_variant))
                elif not is_prefix and not d.complex_prefixes \
                        and d.two_stage_affix:
                    # prefix + suffix removed: one more suffix allowed
                    out.extend(self._stem_recurse(
                        stripped, affix, affix.flag, prefix_flag, 2,
                        False, True, False, circumfix, case_variant))
        return out


def hunspell_stem_series(terms, stemmer: Stemmer, dedup: bool = True):
    """Vocabulary-level mapping helper for pandas UDFs: term ->
    first stem (or the term itself when the dictionary has no answer) —
    HunspellStemFilter semantics with dedup=True (:34-39)."""
    out = []
    for t in terms:
        stems = stemmer.unique_stems(t)
        out.append(stems[0] if stems else t)
    return out
