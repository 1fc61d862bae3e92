"""User-facing façade: build once, query many.

The operators (fulltext/postings/wand/positional) are the engine; this
class is the ergonomic surface a reference user reaches for first:

    from php_lucene_analyzer_spark.engine import FulltextIndex

    idx = FulltextIndex.build(spark, docs, order_cols=["repo", "path"])
    idx.search("parse token stream", k=10)          # DataFrame(doc_id, score)
    idx.search_many({"a": "...", "b": "..."})       # one plan per set
    idx.phrase("merge join")                        # needs positional=True
    idx.save("/path/idx"); FulltextIndex.load(spark, "/path/idx")

Everything delegates to the tested operators — same semantics, same
bit-identical rank contract.  The spark-submit CLIs (scripts/) remain
the cluster entrypoints; save()/load() share their on-disk layout
concepts (sorted postings parquet + stats.json).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .analysis import analyze
from .operators import fulltext as ft
from .operators.boolean import (_disjunction_set, _flat_tree, _leaf_terms,
                                _tree_one, _tree_set)
from .operators.positional import phrase_match
from .operators.postings import (_index_blocks, _split_blocks,
                                 corpus_stats_from_postings, term_dfs,
                                 term_stats_from_postings, write_postings)

# above this many terms the index keeps no driver-resident dictionary and
# every df lookup or expansion runs as a Spark job over ``tstats``
# (about 50 MB of driver memory at the cap)
TERM_DICT_CAP = 250_000


def _field_avgdl(postings: DataFrame, fields: list[str],
                 n_docs: int) -> dict:
    """Per-field avgdl from block metadata: Σ sum_tf within a field ==
    Σ field lengths over docs (dl is the FIELD length in multi-field
    builds).  Denominator is the corpus doc count for every field —
    docs missing a field count as length 0, Lucene's norm convention.
    One metadata agg, no corpus re-scan."""
    fexpr = (F.when(F.col("term").contains(ft.FIELD_SEP),
                    F.substring_index("term", ft.FIELD_SEP, 1))
             .otherwise(F.lit(fields[0])))
    rows = (postings.groupBy(fexpr.alias("_f"))
            .agg(F.sum("sum_tf").alias("t")).collect())
    totals = {r["_f"]: float(r["t"] or 0) for r in rows}
    return {f: (totals.get(f, 0.0) / n_docs if n_docs else 0.0)
            for f in fields}


class FulltextIndex:
    def __init__(self, spark: SparkSession, postings: DataFrame,
                 tstats: DataFrame, n_docs: int, avgdl: float,
                 analyzer=None, positional: DataFrame | None = None,
                 fields: list[str] | None = None,
                 field_avgdl: dict | None = None):
        self.spark = spark
        self.postings = postings
        self.tstats = tstats
        self.n_docs = n_docs
        self.avgdl = avgdl
        self.analyzer = analyzer
        self.positional = positional
        self.fields = fields            # multi-field: fields[0] = default
        self.field_avgdl = field_avgdl  # {field: avgdl} (multi-field)
        self._tdict: ft.TermDictionary | None = None
        self._tdict_read = False
        self._cached: list[DataFrame] = []

    # ------------------------------------------------------------- build
    @classmethod
    def build(cls, spark: SparkSession, docs: DataFrame,
              order_cols: list[str], text_col: str = "content",
              analyzer=None, positional: bool = False,
              partitions: int | None = None,
              fields: list[str] | None = None,
              offsets: bool = False) -> "FulltextIndex":
        """Deterministic doc ids -> fused posting-block build (one
        shuffle total); optional packed positional index.  ``analyzer``
        (None = the flagship chain) defines terms AND positions, so
        queries must reopen the index with the same one.  With
        ``positional=True`` ONE builder pass analyzes each doc once and
        emits both tables (operators/postings.py::_index_blocks).

        ``fields``: MULTI-FIELD index — list of text columns indexed in
        one pass (``text_col`` ignored; fields[0] is the default field,
        stored bare; others stored "<field>\\x1f<term>" — see
        operators/postings.py::index_corpus).  Queries address them as
        ``field:term`` / ``field:(...)`` through ``query()``; BM25 uses
        the FIELD's own avgdl (Lucene per-field norms).  With
        ``positional=True`` EVERY field indexes positionally (r5), so
        ``field:"exact phrase"`` works, and ``offsets=True`` stores char
        offsets for every field."""
        ids = ft.with_doc_ids(docs, order_cols, partitions).cache()
        n_docs = ids.count()
        # one cached build: with positions, postings and pos are column
        # projections of it (write_postings leaves such a view uncached)
        blocks = _index_blocks(ids, "doc_id",
                               list(fields) if fields else [text_col],
                               analyzer, positions=positional,
                               store_offsets=offsets).cache()
        postings, pos = (_split_blocks(blocks) if positional
                         else (blocks, None))
        tstats = term_stats_from_postings(postings).cache()
        field_avgdl = None
        if fields:
            field_avgdl = _field_avgdl(postings, fields, n_docs)
            avgdl = field_avgdl[fields[0]]
        else:
            avgdl = corpus_stats_from_postings(postings, n_docs)
        idx = cls(spark, postings, tstats, n_docs, avgdl, analyzer, pos,
                  fields=list(fields) if fields else None,
                  field_avgdl=field_avgdl)
        idx._cached = [ids, blocks, tstats]
        return idx

    def close(self) -> None:
        """Release every DataFrame ``build``, ``load`` or ``compact``
        cached.  Idempotent.  Without this, repeated
        build/drop cycles accumulate persisted RDDs until eviction
        thrash — the same leak class fixed in the dedup operators."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def __enter__(self) -> "FulltextIndex":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # ------------------------------------------------------------- query
    def _dictionary(self) -> "ft.TermDictionary | None":
        """The sorted term -> df dictionary, collected on the FIRST read
        (one job; build() and load() launch none) and kept on the
        driver — the index is immutable.  None when the index has more
        than TERM_DICT_CAP terms: callers then take the Spark path, and
        ``tstats`` is cached here (every df lookup and expansion then
        reads it; close() releases it)."""
        if not self._tdict_read:
            rows = (self.tstats.select("term", "df")
                    .limit(TERM_DICT_CAP + 1).collect())
            if len(rows) <= TERM_DICT_CAP:
                self._tdict = ft.TermDictionary(rows)
            elif not self.tstats.is_cached:
                self._cached.append(self.tstats.cache())
            self._tdict_read = True
        return self._tdict

    def _dfs(self, terms) -> dict[str, int]:
        """A {term: df} map covering ``terms`` (absent terms missing):
        the resident dictionary, else one filtered collect."""
        d = self._dictionary()
        return d.df if d is not None else term_dfs(self.tstats, terms)

    def _expand(self, specs: list[dict], **kw) -> list:
        """operators/fulltext.py::expand_specs over this index: on the
        driver from the resident dictionary, regex specs (and every spec
        above the cap) in one Spark job."""
        return ft.expand_specs(self.tstats, specs,
                               default_field=(self.fields[0] if self.fields
                                              else None),
                               tdict=self._dictionary(), **kw)

    def _disjunctions(self, entries: dict, k: int) -> DataFrame:
        """Each query's top k of ``{qid: [(term, weight), ...]}`` flat
        disjunctions (operators/boolean.py::_disjunction_set)."""
        terms = {t for es in entries.values() for t, _ in es}
        return _disjunction_set(self.postings, self._dfs(terms),
                                self.n_docs, self.avgdl, entries, k)

    def _wand(self, entries: list[tuple[str, float]], k: int) -> DataFrame:
        """Top-k of one flat disjunction of [(term, weight)] entries."""
        return self._disjunctions({"_": entries}, k).drop("qid")

    def _terms(self, query: str) -> list[str]:
        if self.analyzer is not None:
            return sorted(set(self.analyzer.terms(query)))
        return sorted({t.term for t in analyze(query)})

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Top-k of the analyzed terms' disjunction -> DataFrame(doc_id,
        score), total order (score desc, doc_id asc) — bit-identical to
        the exhaustive scorer.  query()'s plan over a flat SHOULD tree:
        block-max MaxScore prunes each bucket where the terms are sparse.
        Below boolean.DRIVER_POSTINGS_CAP postings the answer is
        computed on the driver when search() is called (one Spark job);
        the returned frame is local and its collect() runs none."""
        return self._wand([(t, 1.0) for t in self._terms(query)], k)

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Whole query set in one plan -> (qid, doc_id, score),
        bit-identical to per-query ``search()``.  A set below
        boolean.DRIVER_POSTINGS_CAP postings is answered on the driver
        when search_many() is called, from one Spark job; a larger set
        runs one grouped kernel pass and a per-qid window at collect()
        (operators/boolean.py::_tree_set)."""
        return self._disjunctions(
            {qid: [(t, 1.0) for t in self._terms(q)]
             for qid, q in queries.items()}, k)

    def search_prefix(self, prefix: str, k: int = 10,
                      max_expansions: int = 64) -> DataFrame:
        """Wildcard `p*` query (the automaton package's PrefixQuery role)
        on the default field: range scan on the sorted term dictionary,
        bounded df-descending expansion (Lucene's top-terms rewrite),
        WAND over the union."""
        [exp] = self._expand([{"kind": "prefix", "value": prefix.lower(),
                               "field": None, "cap": max_expansions}])
        return self._wand([(t, 1.0) for t, _, _ in exp], k)

    def search_fuzzy(self, query: str, k: int = 10, max_edits: int = 2,
                     prefix_len: int = 0,
                     scoring: str = "bm25") -> DataFrame:
        """Lucene FuzzyQuery's role: expand each analyzed query term to
        its Levenshtein neighborhood over the term dictionary, then
        block-max WAND over the expanded OR-set.  ALL terms expand in
        one expand_specs call (operators/fulltext.py — length-band
        prune, then Levenshtein; on the driver when the dictionary is
        resident, else one Spark job); an edit-distance neighborhood is
        tiny.

        ``scoring``:
          "bm25"   — plain BM25 over the expanded set (engine default;
                     every expansion term weighs its own idf);
          "lucene" — Lucene FuzzyTermsEnum's edit-distance downweight:
                     each (query term -> matched term) clause scales by
                     1 - dist / min(len(query_term), len(term)), and a
                     term reachable from two query terms scores once
                     per clause (BooleanQuery of per-term fuzzy
                     clauses).  Exact-match terms keep weight 1."""
        qterms = self._terms(query)
        specs = [{"kind": "fuzzy", "value": t, "edits": max_edits,
                  "prefix_len": prefix_len, "field": None, "cap": None}
                 for t in qterms]
        expansions = self._expand(specs)
        if scoring == "lucene":
            boosts: list[tuple[str, float]] = []
            for qt, exp in zip(qterms, expansions):
                for term, _df, dist in exp:
                    w = 1.0 - (dist / min(len(qt), len(term))
                               if dist else 0.0)
                    boosts.append((term, w))
            return self._wand(sorted(boosts), k)
        expanded = sorted({t for exp in expansions for t, _, _ in exp})
        return self._wand([(t, 1.0) for t in expanded], k)

    def search_boolean(self, must: list[str] | None = None,
                       should: list[str] | None = None,
                       must_not: list[str] | None = None, msm: int = 0,
                       k: int = 10) -> DataFrame:
        """Lucene BooleanQuery semantics over the index
        (operators/boolean.py::boolean_topk, a depth-1 tree over the
        boolean_tree_topk kernel): every ``must`` string's
        analyzed terms all match, at least ``msm`` of the ``should``
        terms match (pure-SHOULD queries require one), no ``must_not``
        term matches; BM25-scored over the matched must+should set.

        Divergence note: a must string whose analysis produces a token
        GRAPH (e.g. WDGF camelCase expansion ``parseSplit`` ->
        [parsesplit, pars, split]) collapses to the conjunction of ALL
        emitted terms — Lucene would build a synonym/graph query
        (original OR adjacent-parts).  Indexed docs containing the
        literal word carry every expansion term, so results agree
        whenever the word occurs as written.  A term in BOTH must and
        should is normalized to must-only (scores once; see
        boolean_topk's overlap note) — ``query()``'s tree path scores
        per clause instead."""
        expand = lambda qs: [t for q in (qs or []) for t in self._terms(q)]
        tree, instances = _flat_tree(expand(must), expand(should),
                                     expand(must_not), msm)
        return _tree_one(self.postings, self._dfs(_leaf_terms(tree)),
                         self.n_docs, float(self.avgdl), tree, instances, k)

    def more_like_this(self, text: str, k: int = 10, max_terms: int = 25,
                       exclude_doc: int | None = None) -> DataFrame:
        """Lucene MoreLikeThis role: analyze ``text`` driver-side, rank
        its terms by tf·idf against the index's df table, seed a
        disjunctive WAND query with the top ``max_terms``, optionally
        excluding a source doc id.

        Scale note: term selection happens on the driver from the query
        TEXT (tf counted in Python over one document's tokens, df fetched
        for just those terms) — the postings are never scanned to
        reconstruct a document, which a term-major index cannot do
        cheaply."""
        from collections import Counter
        # raw token stream, NOT _terms (which dedupes for query-term
        # sets) — MLT ranks by tf·idf, so duplicates carry signal
        if self.analyzer is not None:
            cnt = Counter(self.analyzer.terms(text))
        else:
            cnt = Counter(t.term for t in analyze(text))
        dfs = self._dfs(set(cnt))
        ranked = sorted(
            ((t, cnt[t] * ft.idf(self.n_docs, dfs[t]))
             for t in cnt if t in dfs),
            key=lambda x: (-x[1], x[0]))
        seed = sorted(t for t, _ in ranked[:max_terms])
        out = self._wand([(t, 1.0) for t in seed],
                         k + (1 if exclude_doc is not None else 0))
        if exclude_doc is not None:
            out = (out.filter(F.col("doc_id") != exclude_doc)
                   .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        return out

    # above this many matched terms, a ROOT-level negative expansion
    # (e.g. -license*) switches from term-list collect to a
    # distributed doc-set anti-join (operators/postings.py::
    # matched_doc_ids) — the list never reaches the driver
    NEG_COLLECT_MAX = 10_000

    def query(self, q: str, k: int = 10, msm: int = 0,
              max_expansions: int = 64,
              default_operator: str = "OR",
              multifield: bool = False,
              neg_collect_max: int | None = None,
              slop_mode: str = "lucene") -> DataFrame:
        """Execute a classic-Lucene query STRING -> (doc_id, score).

        Full grammar (queryparser.py): ``+ - NOT AND OR``, parenthesized
        sub-queries, ``field:term`` / ``field:(...)`` over a multi-field
        index, phrases ``"a b"`` and sloppy phrases ``"a b"~n``, fuzzy
        ``t~1``, prefix ``p*``, wildcards ``t?st``, regex ``/re.x/``,
        ranges ``[a TO b]``/``{a TO b}``, boosts ``^2``.

        Compilation (querycompile.py): the AST becomes a nested clause
        TREE for operators/boolean.py::boolean_tree_topk (Lucene
        BooleanQuery algebra per level; per-clause scoring, so a term in
        two clauses scores per clause).  EVERY dictionary expansion
        (fuzzy/prefix/wildcard/regex/range) goes through ONE
        operators/fulltext.py::expand_specs call: on the driver from the
        resident term dictionary, with regex clauses (and every clause
        of an index above TERM_DICT_CAP terms) in one Spark job;
        positive clauses cap at
        ``max_expansions`` df-descending (Lucene top-terms rewrite),
        NEGATIVE clauses expand unbounded (exclusion needs the full
        match set — Lucene constant-score rewrite); a ROOT-level
        negative expansion above ``neg_collect_max`` terms excludes
        through a doc-set anti-join instead of a term list.

        Phrases are leaves of the same tree, at any depth, evaluated
        inside the tree kernel from the positional blocks of each
        doc-range bucket (Lucene's PhraseScorer beside the term
        scorers): a MUST phrase is required, a MUST_NOT phrase excludes,
        a SHOULD phrase counts toward ``msm`` like any SHOULD clause.
        Top-level MUST and SHOULD phrases score ``boost x Σ idf(phrase
        terms) x n(k1+1)/(n+k1)`` over their match count n (BM25
        saturation without length norm — the positional layout stores
        no dl; documented divergence), added after the term score in
        phrase order; nested phrases gate matching but do not score
        (documented).  ``slop_mode`` picks the ``~n`` semantics
        (operators/positional.py::phrase_match).  ``field:"..."``
        phrases evaluate on that field's positional postings
        (multi-field builds index every field positionally).

        ``multifield=True`` (MultiFieldQueryParser role, multi-field
        indexes only): an UNFIELDED term searches EVERY index field —
        each token's clause matches any field's variant and each
        variant scores with its own field's idf/avgdl; explicit
        ``field:`` atoms and expansion atoms are unaffected.

        Runs query_many's plan as a set of one: below
        boolean.DRIVER_POSTINGS_CAP postings the answer is computed on
        the driver when query() is called, and the returned local frame
        collects without a Spark job."""
        return self._query_set(
            {"_": q}, k, msm, max_expansions, default_operator, multifield,
            neg_collect_max, slop_mode).drop("qid")

    def query_many(self, queries: dict[str, str], k: int = 10,
                   msm: int = 0, max_expansions: int = 64,
                   default_operator: str = "OR",
                   multifield: bool = False,
                   neg_collect_max: int | None = None,
                   slop_mode: str = "lucene") -> DataFrame:
        """Execute a SET of classic-Lucene query strings -> (qid, doc_id,
        score), bit-identical to per-query ``query()`` — the serving
        shape: every dictionary expansion of EVERY query goes through
        one expand_specs call (on the driver from the resident
        dictionary; regex clauses, or every clause above TERM_DICT_CAP
        terms, in one Spark job), and every compiled tree — phrase
        leaves included — evaluates against each doc-range bucket
        through one plan (operators/boolean.py::_tree_set).  A set below
        boolean.DRIVER_POSTINGS_CAP postings, with no doc-set
        exclusion, is answered on the driver when query_many() is
        called, from one Spark job that collects its block rows; a
        larger set runs one grouped kernel pass and a per-qid top-k
        window at collect()."""
        return self._query_set(
            queries, k, msm, max_expansions, default_operator, multifield,
            neg_collect_max, slop_mode)

    def _query_set(self, queries: dict[str, str], k: int, msm: int,
                   max_expansions: int, default_operator: str,
                   multifield: bool, neg_collect_max: int | None,
                   slop_mode: str) -> DataFrame:
        """compile -> expand -> one tree-kernel plan over the set ->
        each query's top-k (qid, doc_id, score) rows.

        Phrase leaves of every query share one table of compiled specs
        (a phrase two queries share evaluates once per bucket).  A
        query whose root-level negative expansion is an
        OversizedExpansion keeps every kernel row and anti-joins the
        expansion's doc set relationally (the rare path, always a
        grouped pass)."""
        from .operators.fulltext import FIELD_SEP, OversizedExpansion, idf
        from .operators.positional import _compile_phrase
        from .operators.postings import matched_doc_ids
        from .querycompile import _Leaf, compile_query
        from .queryparser import parse_query

        known = set(self.fields) if self.fields else set()
        default_field = self.fields[0] if self.fields else None
        plans, spans, all_specs = {}, {}, []
        for qid, q in queries.items():
            p = compile_query(parse_query(q, default_operator),
                              self._terms, default_field, msm,
                              max_expansions, known_fields=known,
                              all_fields=(self.fields if multifield
                                          else None))
            plans[qid] = p
            spans[qid] = (len(all_specs), len(all_specs) + len(p.specs))
            all_specs.extend(p.specs)
        if self.positional is None \
                and any(p.phrases for p in plans.values()):
            raise ValueError("phrase clauses need a positional index "
                             "(build(..., positional=True))")
        # only DIRECT root-level NOT leaves may take the doc-set path
        # (a nested NOT excludes within its sub-query, not globally)
        root_neg_sids = {spans[qid][0] + sid
                         for qid, p in plans.items()
                         for lf in p.root.nots if isinstance(lf, _Leaf)
                         for sid in lf.spec_ids}
        ncm = self.NEG_COLLECT_MAX if neg_collect_max is None \
            else neg_collect_max
        expansions = self._expand(all_specs, neg_collect_max=ncm,
                                  neg_docset_sids=root_neg_sids) \
            if all_specs else []

        def pterms(text, _slop, fld):
            return [f"{fld}{FIELD_SEP}{t}" if fld else t
                    for t in self._terms(text)]

        trees, insts, excluded = {}, {}, {}
        phrase_ids: dict[tuple, int] = {}       # (text, slop, field) -> j
        weights: dict[str, list] = {}           # qid -> [(j, boost, terms)]
        for qid, p in plans.items():
            exp = expansions[slice(*spans[qid])]
            tree, inst = p.finalize(exp)
            if not (inst or p.scored or p.nested):
                continue                        # no positive evidence
            if p.phrases:                       # renumber into the table
                ids = [phrase_ids.setdefault(ph, len(phrase_ids))
                       for ph in p.phrases]
                tree, inst = p.finalize(exp, ids)
                weights[qid] = [(ids[j], boost, pterms(*p.phrases[j]))
                                for j, boost in p.scored]
            trees[qid], insts[qid] = tree, inst
            for e in exp:
                if isinstance(e, OversizedExpansion):
                    ds = matched_doc_ids(self.postings, e.terms_df)
                    excluded[qid] = ds if qid not in excluded \
                        else excluded[qid].union(ds)
        if not trees:
            return ft.empty_frame(self.spark,
                                  "qid string, doc_id long, score double")
        leaf_terms = set().union(*map(_leaf_terms, trees.values()))
        dfs = self._dfs(leaf_terms | {t for ph in phrase_ids
                                      for t in pterms(*ph)})
        scored = {qid: [(j, boost * sum(idf(self.n_docs, dfs[t])
                                        for t in ts if t in dfs))
                        for j, boost, ts in ws]
                  for qid, ws in weights.items() if ws}
        phrases = [_compile_phrase(text, None, slop, field, self.analyzer,
                                   slop_mode)
                   for text, slop, field in phrase_ids]
        if self.fields:
            av = {t: self.field_avgdl[t.split(FIELD_SEP, 1)[0]
                                      if FIELD_SEP in t
                                      else self.fields[0]]
                  for ins in insts.values() for t, _, _ in ins}
        else:
            av = self.avgdl
        return _tree_set(self.postings, dfs, self.n_docs, av, trees, insts,
                         k, ft.K1, ft.B, excluded, self.positional, phrases,
                         scored)

    def suggest(self, word: str, max_edits: int = 2, k: int = 5,
                prefix_len: int = 1) -> DataFrame:
        """Did-you-mean candidates for a (possibly misspelled) word ->
        (term, df, dist), DirectSpellChecker ranking (dist asc, df desc,
        term asc) over the term dictionary
        (operators/fulltext.py::suggest_terms, or the same ranking over
        the driver-resident dictionary).  The word is analyzed
        first so suggestions live in the index's stemmed vocabulary; the
        FIRST token of the analyzed stream is the suggestion target
        (DirectSpellChecker is per-term — callers suggest per word); an
        all-stopword/empty word returns no rows."""
        from .operators.fulltext import suggest_terms
        if self.analyzer is not None:
            stream = self.analyzer.terms(word)
        else:
            stream = [t.term for t in analyze(word)]
        if not stream:
            return self.spark.createDataFrame(
                [], "term string, df long, dist long")
        d = self._dictionary()
        if d is None:
            return suggest_terms(self.tstats, stream[0], max_edits, k,
                                 prefix_len)
        return self.spark.createDataFrame(
            d.suggest(stream[0], max_edits, k, prefix_len),
            "term string, df long, dist int")

    def search_regex(self, pattern: str, k: int = 10,
                     max_expansions: int = 64) -> DataFrame:
        """RegexpQuery role: match the default field's terms with Spark's
        native ``rlike`` (the automaton package's regex runner maps to
        the JVM regex engine — SURVEY A19), expand df-descending like
        Lucene's top-terms rewrite (bounded) in one Spark job, as
        ``query("/pattern/")`` does, and score the union.

        The pattern is anchored to the WHOLE term (``^(?:...)$``) —
        Lucene RegexpQuery semantics; a bare ``rlike`` would match
        substrings ('cat' hitting 'concatenate')."""
        [exp] = self._expand([{"kind": "regex", "value": pattern,
                               "field": None, "cap": max_expansions}])
        return self._wand([(t, 1.0) for t, _, _ in exp], k)

    def compact(self) -> "FulltextIndex":
        """Rewrite fragmented posting blocks — and the positional index,
        when present — into full-size ones (operators/postings.py::
        compact_postings, or operators/positional.py::compact_index for
        both tables under ONE pack mapping, so a doc's postings and
        positions keep sharing an rbucket; Lucene's TieredMergePolicy
        role; bit-identical query results).
        Returns a NEW index over the compacted, eagerly-materialized
        layout with its derived term stats cached (queries must not
        re-aggregate the postings per call); the original index is
        untouched (close() it to release its caches)."""
        from .operators.positional import compact_index
        from .operators.postings import compact_postings
        if self.positional is None:
            cp, pos = compact_postings(self.postings), None
        else:
            cp, pos = compact_index(self.postings, self.positional)
            pos = pos.localCheckpoint(eager=True)
        cp = cp.localCheckpoint(eager=True)
        ts = term_stats_from_postings(cp).cache()
        idx = FulltextIndex(self.spark, cp, ts, self.n_docs, self.avgdl,
                            self.analyzer, pos, fields=self.fields,
                            field_avgdl=self.field_avgdl)
        # compaction keeps every term and df: a read dictionary carries over
        idx._tdict, idx._tdict_read = self._tdict, self._tdict_read
        idx._cached = [ts]
        return idx

    def stats(self) -> dict:
        """Index statistics (Lucene IndexReader counters): n_docs,
        avgdl, n_terms (the resident dictionary's length once read),
        n_blocks, has_positional."""
        return {
            "n_docs": self.n_docs,
            "avgdl": self.avgdl,
            "n_terms": (len(self._tdict) if self._tdict is not None
                        else self.tstats.count()),
            "n_blocks": self.postings.count(),
            "has_positional": self.positional is not None,
        }

    def highlight_anchors(self, query: str) -> DataFrame:
        """(doc_id, first_pos): earliest position of any analyzed query
        term per matching doc (operators/positional.py::first_match) —
        the highlighter anchor.  Requires ``build(..., positional=True)``
        or a loaded positional dir.  Positions are the chain's GRAPH
        positions; for CHAR-offset anchors and real source-text
        snippets build with ``offsets=True`` and use
        ``snippet_spans``/``snippets`` (round 4)."""
        from .operators.positional import first_match
        if self.positional is None:
            raise ValueError("highlight_anchors needs a positional index "
                             "(build(..., positional=True))")
        return first_match(self.positional, self._terms(query))

    def snippet_spans(self, query: str) -> DataFrame:
        """(doc_id, first_pos, start, end): the earliest occurrence of
        any analyzed query term per matching doc with REAL char offsets
        (operators/positional.py::first_match_span — the token stream's
        offsetAttribute, reference src/analyses/TokenStream.php:16-22,
        materialized at index time).  Requires
        ``build(..., positional=True, offsets=True)``."""
        from .operators.positional import first_match_span
        if self.positional is None:
            raise ValueError("snippet_spans needs a positional index "
                             "(build(..., positional=True, "
                             "offsets=True))")
        return first_match_span(self.positional, self._terms(query))

    def snippets(self, query: str, docs: DataFrame,
                 id_col: str = "doc_id", text_col: str = "content",
                 pad: int = 30) -> DataFrame:
        """True highlighter output -> (doc_id, start, end, snippet): the
        source text around the first matching term, sliced JVM-side
        (one broadcast-able join + substring — no text re-scan per
        match).  ``pad``: context chars on each side of the matched
        token."""
        spans = self.snippet_spans(query)
        lo = F.greatest(F.col("start") - pad + 1, F.lit(1))
        ln = F.col("end") + pad - lo + 1
        return (spans.join(
            docs.select(F.col(id_col).alias("doc_id"),
                        F.col(text_col).alias("_text")), "doc_id")
            .select("doc_id", "start", "end",
                    F.substring(F.col("_text"), lo.cast("int"),
                                ln.cast("int")).alias("snippet")))

    def phrase(self, phrase: str, slop: int = 0,
               field: str | None = None,
               slop_mode: str = "lucene") -> DataFrame:
        """Phrase docs -> (doc_id, n_matches); needs
        ``build(..., positional=True)`` or a loaded positional dir.
        ``slop=0``: exact adjacency (graph positions); ``slop>0``:
        Lucene PhraseQuery(slop) accounting by default
        (``slop_mode="lucene"`` — order-sensitive, transposition costs
        2), or ``slop_mode="span"`` for SpanNearQuery(inOrder=false)
        windows with multiset term coverage
        (operators/positional.py::phrase_match).  ``field``: match in
        a non-default field (multi-field builds index every field
        positionally; the default field passes None)."""
        if self.positional is None:
            raise ValueError("index built without positional=True")
        if field is not None:
            # a typo'd field must fail loudly (query()'s check_field
            # contract), not silently match nothing
            if not self.fields or field not in self.fields:
                raise ValueError(
                    f"unknown field {field!r} (index fields: "
                    f"{self.fields or []})")
            if field == self.fields[0]:
                field = None
        return phrase_match(self.positional, phrase, slop=slop,
                            field=field, analyzer=self.analyzer,
                            slop_mode=slop_mode)

    # --------------------------------------------------------- save/load
    def save(self, path: str) -> None:
        """Sorted-by-term postings parquet (row-group min/max prune term
        lookups) + optional positional blocks + stats.json — all stamped
        with format headers (functions/header.py, the CodecUtil role) so
        a stale-layout load fails with a versioned error."""
        from .functions.header import (INDEX_WORKDIR_CODEC,
                                       INDEX_WORKDIR_VERSION,
                                       POSITIONAL_CODEC, POSITIONAL_VERSION,
                                       header_fields, write_dir_header)
        write_postings(self.postings, os.path.join(path, "postings"))
        if self.positional is not None:
            pdir = os.path.join(path, "positional")
            (self.positional.repartitionByRange("term")
             .sortWithinPartitions("term", "rbucket", "block_no")
             .write.mode("overwrite").parquet(pdir))
            write_dir_header(pdir, POSITIONAL_CODEC, POSITIONAL_VERSION)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "stats.json"), "w") as f:
            json.dump({**header_fields(INDEX_WORKDIR_CODEC,
                                       INDEX_WORKDIR_VERSION),
                       "n_docs": self.n_docs, "avgdl": self.avgdl,
                       "has_positional": self.positional is not None,
                       "fields": self.fields,
                       "field_avgdl": self.field_avgdl}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             analyzer=None) -> "FulltextIndex":
        """Reopen a saved index; the caller must supply the SAME analyzer
        the index was built with (chains are code, not data).  Format
        headers are checked before any decode."""
        from .functions.header import (INDEX_WORKDIR_CODEC,
                                       INDEX_WORKDIR_VERSION,
                                       POSITIONAL_CODEC, POSITIONAL_VERSION,
                                       check_dir_header, check_fields)
        from .operators.postings import read_postings
        with open(os.path.join(path, "stats.json")) as f:
            stats = json.load(f)
        check_fields(stats, INDEX_WORKDIR_CODEC, INDEX_WORKDIR_VERSION,
                     INDEX_WORKDIR_VERSION, f"{path}/stats.json")
        postings = read_postings(spark, os.path.join(path, "postings"))
        tstats = term_stats_from_postings(postings)
        pos = None
        if stats.get("has_positional"):
            pdir = os.path.join(path, "positional")
            # verify the format header BEFORE any decode (a stale/foreign
            # positional layout must fail at open, not mid-query) —
            # mirrors read_postings
            check_dir_header(pdir, POSITIONAL_CODEC, POSITIONAL_VERSION,
                             POSITIONAL_VERSION)
            pos = spark.read.parquet(pdir)
        return cls(spark, postings, tstats, int(stats["n_docs"]),
                   float(stats["avgdl"]), analyzer, pos,
                   fields=stats.get("fields"),
                   field_avgdl=stats.get("field_avgdl"))
