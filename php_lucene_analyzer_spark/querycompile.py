"""Compile a parsed Lucene query AST (queryparser.Bool/Atom) onto the
engine kernels.

Two-phase by necessity: dictionary-expansion clauses (fuzzy / prefix /
wildcard / regex / range) need one pass over the term dictionary
(operators/fulltext.py::expand_specs) before the tree is complete, so
``compile_query`` returns a ``QueryPlan`` whose ``specs`` the caller
expands, then ``finalize(expansions)`` yields:

  tree       — hashable nested tuples for operators/boolean.py::
               boolean_tree_topk:
                 ("leaf", leaf_id, (term, ...))
                 ("node", (must...), (should...), (not...), msm)
  instances  — [(term, boost_product, leaf_id), ...]: one scoring
               instance per positive-path leaf membership (Lucene: a
               term present in two clauses scores once per clause;
               leaves under a MUST_NOT never score)
  phrases    — every phrase leaf [(text, slop, field)] (field None =
               default; any index field works — the positional table
               namespaces per-field postings as "<field>\\x1fterm"); the
               tree carries ("phrase", j) where phrase j sits, at any
               depth, and the kernel evaluates it from the positional
               blocks of the same doc-range bucket
  scored     — [(j, boost)]: the TOP-LEVEL MUST and SHOULD phrases, in
               phrase-id order — the ones that score (a MUST_NOT phrase
               never scores; a nested phrase gates matching but does not
               score — documented)
  nested     — ids j of the phrase leaves below the root

Occur algebra inside a level is Lucene BooleanQuery's; msm is baked
into each node: nested levels use 1 when pure-SHOULD else 0; the root
takes the caller's msm, floored to 1 when the root has no MUST clause
(term or phrase) — a top-level phrase is a root clause like any other,
so a SHOULD phrase counts toward msm inside the kernel.

Term atoms are analyzed with the index's chain; a MUST term whose
analysis emits several tokens (WDGF camelCase) compiles to the
conjunction of singleton leaves, a SHOULD/NOT term to ONE any-of leaf
— the round-3 ``query()`` semantics, unchanged.  Field-scoped atoms
map to the stored ``field\\x1fterm`` namespace (default field bare).
"""

from __future__ import annotations

from dataclasses import dataclass, field as dfield

from .operators.fulltext import FIELD_SEP
from .queryparser import Atom, Bool, MUST, MUST_NOT, \
    wildcard_to_regex

_NO_CAP = None


@dataclass
class _Leaf:
    leaf_id: int
    boost: float
    terms: tuple = ()          # resolved index terms (term atoms)
    spec_ids: tuple = ()       # expansion placeholders (union of all
                               # listed specs' expansions forms ONE
                               # any-of group — a multi-token fuzzy
                               # atom stays one clause, r3 semantics)


@dataclass
class _Node:
    must: list = dfield(default_factory=list)
    should: list = dfield(default_factory=list)
    nots: list = dfield(default_factory=list)
    boost: float = 1.0


@dataclass
class QueryPlan:
    root: _Node
    specs: list
    phrases: list               # [(text, slop, field)] — leaf ("phrase", j)
    msm: int
    n_leaves: int
    scored: list = dfield(default_factory=list)
                                # [(j, boost)] top-level MUST/SHOULD
    nested: list = dfield(default_factory=list)
                                # j of the phrase leaves below the root

    def finalize(self, expansions: list[list[tuple]],
                 phrase_ids: list[int] | None = None):
        """expansions[i] = [(term, df, dist), ...] for specs[i] ->
        (tree, instances).  Absent-vocabulary handling is structural:
        an empty MUST leaf empties its node's match set in-kernel.
        ``phrase_ids``: renumber phrase leaf j as ``phrase_ids[j]`` (a
        query set's shared phrase table)."""
        instances: list[tuple] = []

        def fin(node, boost_path, negative):
            if isinstance(node, tuple):          # ("phrase", j)
                return node if phrase_ids is None else \
                    ("phrase", phrase_ids[node[1]])
            if isinstance(node, _Leaf):
                terms = node.terms if not node.spec_ids else tuple(
                    sorted({t for sid in node.spec_ids
                            for t, _, _ in expansions[sid]}))
                if not negative:
                    w = boost_path * node.boost
                    for t in terms:
                        instances.append((t, w, node.leaf_id))
                return ("leaf", node.leaf_id, terms)
            bp = boost_path * node.boost
            must = tuple(fin(c, bp, negative) for c in node.must)
            should = tuple(fin(c, bp, negative) for c in node.should)
            nots = tuple(fin(c, bp, True) for c in node.nots)
            if node is self.root:
                msm = self.msm
            else:
                msm = 0 if node.must else 1
            return ("node", must, should, nots, msm)

        tree = fin(self.root, 1.0, False)
        instances.sort()
        return tree, instances


def _prefixed(terms, fld, default_field):
    if fld is None or fld == default_field:
        return tuple(terms)
    return tuple(f"{fld}{FIELD_SEP}{t}" for t in terms)


def compile_query(ast: Bool, terms_of, default_field: str | None,
                  msm: int = 0, max_expansions: int = 64,
                  known_fields: set[str] | None = None,
                  all_fields: list[str] | None = None) -> QueryPlan:
    """AST -> QueryPlan.  ``terms_of``: text -> analyzed term list (the
    index's chain).  ``known_fields``: validated when given — a typo'd
    field should fail loudly, not silently match nothing.

    ``all_fields``: MultiFieldQueryParser mode — an UNFIELDED term atom
    expands to the any-of group of its per-field variants (one leaf
    matching the term in ANY listed field; each variant scores with its
    own field's idf/avgdl).  Explicit ``field:`` atoms are unaffected.
    Unfielded EXPANSION atoms (fuzzy/prefix/...) still target the
    default field — Lucene's MultiFieldQueryParser rewrites term/phrase
    clauses, and multi-field wildcard scoring is rarely what users
    mean (documented)."""
    specs: list[dict] = []
    phrases: list[tuple] = []
    scored: list[tuple] = []
    nested: list[int] = []
    counter = {"leaf": 0}

    def new_leaf(boost, terms=(), spec_ids=()):
        lf = _Leaf(counter["leaf"], boost, tuple(terms),
                   tuple(spec_ids))
        counter["leaf"] += 1
        return lf

    def check_field(fld):
        if fld is not None and known_fields is not None \
                and fld not in known_fields:
            raise ValueError(
                f"unknown field {fld!r} (index fields: "
                f"{sorted(known_fields)})")
        return fld

    def add_spec(kind, atom, negative, **kw):
        specs.append({"kind": kind, "field": check_field(atom.field),
                      "cap": _NO_CAP if negative else max_expansions,
                      **kw})
        return len(specs) - 1

    def conv(node: Bool, depth: int, negative: bool):
        out = _Node(boost=node.boost)
        for occ, child in node.clauses:
            neg = negative or occ == MUST_NOT
            if isinstance(child, Bool):
                sub = conv(child, depth + 1, neg)
                if not (sub.must or sub.should or sub.nots):
                    continue
                _attach(out, occ, sub)
                continue
            a: Atom = child
            if a.kind == "phrase":
                fld = check_field(a.field)
                if fld == default_field:
                    fld = None
                j = len(phrases)
                phrases.append((a.value, a.edits, fld))
                if depth > 0:
                    nested.append(j)      # gates, does not score
                elif occ != MUST_NOT:
                    scored.append((j, a.boost))
                _attach(out, occ, ("phrase", j))
                continue
            if a.kind == "term":
                base = terms_of(a.value)
                if not base:
                    continue        # stopword-only atom drops (r3)
                if a.field is None and all_fields:
                    # MultiFieldQueryParser: each token's leaf spans
                    # every field's variant (any-of); MUST keeps the
                    # per-token conjunction, SHOULD/NOT keep ONE leaf
                    # per atom (msm counts words — r3 semantics)
                    spread = [tuple(x for f in all_fields
                                    for x in _prefixed((t,), f,
                                                       default_field))
                              for t in base]
                    if occ == MUST and len(spread) > 1:
                        sub = _Node()
                        sub.must = [new_leaf(a.boost, ts)
                                    for ts in spread]
                        out.must.append(sub)
                    elif occ == MUST:
                        _attach(out, occ, new_leaf(a.boost, spread[0]))
                    else:
                        flat = tuple(x for ts in spread for x in ts)
                        _attach(out, occ, new_leaf(a.boost, flat))
                    continue
                terms = _prefixed(base, check_field(a.field),
                                  default_field)
                if occ == MUST and len(terms) > 1:
                    sub = _Node()
                    sub.must = [new_leaf(a.boost, (t,)) for t in terms]
                    out.must.append(sub)
                else:
                    _attach(out, occ, new_leaf(a.boost, terms))
                continue
            if a.kind == "fuzzy":
                # all analyzed tokens' expansions merge into ONE any-of
                # leaf — a multi-token fuzzy atom ("fooBar~") stays one
                # clause (msm counts words, not subword fragments; a
                # MUST fuzzy atom must not become a conjunction of
                # per-fragment expansions — r3 semantics, review fix)
                base = terms_of(a.value) or [a.value.lower()]
                sids = [add_spec("fuzzy", a, neg, value=t,
                                 edits=a.edits) for t in base]
                _attach(out, occ, new_leaf(a.boost, spec_ids=sids))
                continue
            if a.kind == "prefix":
                sid = add_spec("prefix", a, neg, value=a.value.lower())
            elif a.kind == "wildcard":
                sid = add_spec(
                    "regex", a, neg,
                    value=wildcard_to_regex(a.value.lower()))
            elif a.kind == "regex":
                sid = add_spec("regex", a, neg, value=a.value)
            elif a.kind == "range":
                sid = add_spec("range", a, neg, lo=a.lo, hi=a.hi,
                               incl_lo=a.incl_lo, incl_hi=a.incl_hi)
            else:
                raise ValueError(f"unknown atom kind {a.kind!r}")
            _attach(out, occ, new_leaf(a.boost, spec_ids=(sid,)))
        return out

    root = conv(ast, 0, False)
    # the pure-SHOULD >=1 floor applies only when the root has NO
    # required clause at all — a MUST phrase is a required clause
    # (Lucene BooleanQuery)
    root_msm = msm if root.must else max(msm, 1)
    return QueryPlan(root, specs, phrases, root_msm, counter["leaf"],
                     scored, nested)


def _attach(node: _Node, occ: str, child) -> None:
    if occ == MUST:
        node.must.append(child)
    elif occ == MUST_NOT:
        node.nots.append(child)
    else:
        node.should.append(child)
