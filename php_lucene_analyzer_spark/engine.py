"""User-facing façade: build once, query many.

The operators (fulltext/postings/wand/positional) are the engine; this
class is the ergonomic surface a reference user reaches for first:

    from php_lucene_analyzer_spark.engine import FulltextIndex

    idx = FulltextIndex.build(spark, docs, order_cols=["repo", "path"])
    idx.search("parse token stream", k=10)          # DataFrame(doc_id, score)
    idx.search_many({"a": "...", "b": "..."})       # one Spark job
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
from .operators.boolean import _flat_tree, _leaf_terms, _tree_many, _tree_one
from .operators.positional import phrase_match
from .operators.postings import (_index_blocks, _split_blocks,
                                 corpus_stats_from_postings,
                                 term_stats_from_postings, write_postings)
from .operators.wand import _wand_many, _wand_one, term_dfs

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
        """Release every DataFrame ``build`` cached.  Idempotent; a loaded
        index (nothing cached) is a no-op.  Without this, repeated
        build/drop cycles accumulate persisted RDDs until eviction
        thrash — the same leak class fixed in the dedup operators."""
        for df in getattr(self, "_cached", []):
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
        than TERM_DICT_CAP terms: callers then take the Spark path."""
        if not self._tdict_read:
            rows = (self.tstats.select("term", "df")
                    .limit(TERM_DICT_CAP + 1).collect())
            self._tdict = ft.TermDictionary(rows) \
                if len(rows) <= TERM_DICT_CAP else None
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

    def _wand(self, entries: list[tuple[str, float]], k: int) -> DataFrame:
        """WAND over [(term, weight)] entries, a set of one."""
        return _wand_one(self.postings, self._dfs({t for t, _ in entries}),
                         self.n_docs, self.avgdl, entries, k)

    def _tree(self, tree, instances, k: int | None, avgdl,
              with_counts: bool = False) -> DataFrame:
        """The tree kernel on one compiled tree (boolean_tree_topk)."""
        return _tree_one(self.postings, self._dfs(_leaf_terms(tree)),
                         self.n_docs, avgdl, tree, instances, k,
                         with_counts=with_counts)

    def _trees(self, trees: dict, instances: dict, k: int | None, avgdl,
               **kw) -> DataFrame:
        """The tree kernel on a set of trees (boolean_tree_topk_many)."""
        terms = set().union(*map(_leaf_terms, trees.values()))
        return _tree_many(self.postings, self._dfs(terms), self.n_docs,
                          avgdl, trees, instances, k, **kw)

    def _terms(self, query: str) -> list[str]:
        if self.analyzer is not None:
            return sorted(set(self.analyzer.terms(query)))
        return sorted({t.term for t in analyze(query)})

    def search(self, query: str, k: int = 10) -> DataFrame:
        """Block-max WAND top-k -> DataFrame(doc_id, score), total order
        (score desc, doc_id asc) — bit-identical to the exhaustive
        scorer."""
        return self._wand([(t, 1.0) for t in self._terms(query)], k)

    def search_many(self, queries: dict[str, str], k: int = 10) -> DataFrame:
        """Whole query set in ONE Spark job -> (qid, doc_id, score)."""
        entries = {qid: [(t, 1.0) for t in self._terms(q)]
                   for qid, q in queries.items()}
        terms = {t for es in entries.values() for t, _ in es}
        return _wand_many(self.postings, self._dfs(terms), self.n_docs,
                          self.avgdl, entries, k)

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
        return self._tree(tree, instances, k, float(self.avgdl))

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
        index, phrases (MUST = required AND scored, MUST_NOT =
        positional filter; SHOULD = scored + counts toward msm — r5:
        required phrases score, as Lucene's BooleanScorer sums
        required-clause scores), fuzzy ``t~1``, prefix
        ``p*``, wildcards ``t?st``, regex ``/re.x/``, ranges
        ``[a TO b]``/``{a TO b}``, boosts ``^2``.

        Compilation (querycompile.py): the AST becomes a nested clause
        TREE for operators/boolean.py::boolean_tree_topk (Lucene
        BooleanQuery algebra per level; per-clause scoring, so a term in
        two clauses scores per clause).  NESTED phrases — ``(a OR
        "b c")`` — execute by Shannon expansion (engine._nested_frame):
        one shared-scan kernel job evaluates every phrase-membership
        variant and each doc's actual matches select its row; at most 4
        nested phrases per query (2^k variants); nested phrases gate
        matching but do not score (documented).  EVERY dictionary expansion
        (fuzzy/prefix/wildcard/regex/range) goes through ONE
        operators/fulltext.py::expand_specs call: on the driver from the
        resident term dictionary, with regex clauses (and every clause
        of an index above TERM_DICT_CAP terms) in one Spark job;
        positive clauses cap at
        ``max_expansions`` df-descending (Lucene top-terms rewrite),
        NEGATIVE clauses expand unbounded (exclusion needs the full
        match set — Lucene constant-score rewrite; at extreme
        vocabularies a negative wildcard's expansion is the one place a
        doc-set anti-join would replace the term list).

        ``multifield=True`` (MultiFieldQueryParser role, multi-field
        indexes only): an UNFIELDED term searches EVERY index field —
        each token's clause matches any field's variant and each
        variant scores with its own field's idf/avgdl; explicit
        ``field:`` atoms and expansion atoms are unaffected.

        Phrase clauses (r5: evaluated in ONE positional job for the
        whole query — operators/positional.py::phrase_match_many —
        and pivoted to per-phrase columns; no per-phrase join chain):
        MUST/MUST_NOT filter BEFORE the global top-k with the kernel's
        per-bucket cut disabled; SHOULD phrases score ``boost x Σ
        idf(phrase terms) x n(k1+1)/(n+k1)`` (BM25 saturation without
        length norm — the positional layout stores no dl; documented
        divergence) and count toward ``msm`` relationally.  Root
        MUST_NOT *term* clauses exclude phrase-admitted candidates via
        a materialized NOT-doc-set anti-join whenever the candidate
        frame isn't the kernel output (r4 let phrase-framed docs bypass
        term-level NOT — r4 ADVICE item 1).  ``field:"..."`` phrases
        evaluate on that field's positional postings (multi-field
        builds index every field positionally)."""
        from .operators.fulltext import FIELD_SEP, OversizedExpansion
        from .operators.postings import matched_doc_ids
        from .querycompile import _Leaf, compile_query
        from .queryparser import parse_query

        empty = self.spark.createDataFrame([], "doc_id long, score double")
        ast = parse_query(q, default_operator)
        known = set(self.fields) if self.fields else set()
        default_field = self.fields[0] if self.fields else None
        plan = compile_query(ast, self._terms, default_field, msm,
                             max_expansions, known_fields=known,
                             all_fields=(self.fields if multifield
                                         else None))
        # only DIRECT root-level NOT leaves may take the doc-set path
        # (a nested NOT excludes within its sub-query, not globally)
        root_neg_sids = {sid for lf in plan.root.nots
                         if isinstance(lf, _Leaf)
                         for sid in lf.spec_ids}
        ncm = self.NEG_COLLECT_MAX if neg_collect_max is None \
            else neg_collect_max
        expansions = self._expand(plan.specs, neg_collect_max=ncm,
                                  neg_docset_sids=root_neg_sids) \
            if plan.specs else []
        tree, instances = plan.finalize(expansions)
        has_terms = bool(instances)
        ext_not_df = None
        for e in expansions:
            if isinstance(e, OversizedExpansion):
                ds = matched_doc_ids(self.postings, e.terms_df)
                ext_not_df = ds if ext_not_df is None else \
                    ext_not_df.union(ds)

        if self.fields:
            av = {t: self.field_avgdl[t.split(FIELD_SEP, 1)[0]
                                      if FIELD_SEP in t
                                      else self.fields[0]]
                  for t, _, _ in instances}
        else:
            av = self.avgdl

        if not plan.phrases and not plan.nested:
            if not has_terms:
                return empty
            if ext_not_df is None:
                return self._tree(tree, instances, k, av)
            res = self._tree(tree, instances, None, av)
            return (res.join(ext_not_df, "doc_id", "left_anti")
                    .orderBy(F.desc("score"), F.asc("doc_id"))
                    .limit(k))
        return self._combine_phrases(
            plan, tree, instances, av, k, msm, ext_not_df, slop_mode)

    def _nested_frame(self, tree, instances, av, pmp, npids: list[str],
                      with_counts: bool) -> DataFrame:
        """Shannon-expansion frame for NESTED phrase leaves.

        One shared-scan kernel job (boolean_tree_topk_many) evaluates
        the tree under EVERY phrase-membership mask — a ``("phrase",
        j)`` leaf becomes ``("all",)`` (the bucket's visible doc
        universe) when bit j is set, an empty leaf otherwise — and each
        doc's ACTUAL mask (from the phrase pivot columns) selects its
        variant row relationally.  Docs invisible to the kernel (no
        posting for any query term — enforced exactly by the ``seen``
        pseudo-variant, which emits the bucket universes) join in when
        their mask satisfies the tree with every term leaf false
        (driver-side boolean evaluation per mask).  Nested phrases GATE
        matching; they do not score (documented divergence — only
        top-level SHOULD phrases score)."""
        kn = len(npids)

        def subst(node, mask):
            if node[0] == "phrase":
                j = node[1]
                return ("all",) if (mask >> j) & 1 else \
                    ("leaf", -1 - j, ())
            if node[0] == "node":
                return ("node",
                        tuple(subst(c, mask) for c in node[1]),
                        tuple(subst(c, mask) for c in node[2]),
                        tuple(subst(c, mask) for c in node[3]),
                        node[4])
            return node

        def ev_tf(node, mask):
            # tree truth value with every TERM leaf false — mirrors
            # _t_match's per-node algebra
            if node[0] == "phrase":
                return bool((mask >> node[1]) & 1)
            if node[0] == "all":
                return True
            if node[0] == "leaf":
                return False
            _, must, should, nots, m = node
            if not all(ev_tf(c, mask) for c in must):
                return False
            cnt = sum(1 for c in should if ev_tf(c, mask))
            if must:
                if m and cnt < m:
                    return False
            elif cnt < max(m, 1):
                return False
            return not any(ev_tf(c, mask) for c in nots)

        allowed = [m for m in range(1 << kn) if ev_tf(tree, m)]
        # the kernel must run whenever ANY leaf carries terms —
        # including purely NEGATIVE leaves (no scoring instances, but
        # the match algebra and the `seen` guard depend on their
        # postings; a '(NOT t "<phrase>")' query has zero instances
        # yet must exclude t-docs)
        run_kernel = bool(instances) or bool(_leaf_terms(tree))
        trees_v = {f"v{m}": subst(tree, m) for m in range(1 << kn)}
        insts_v = {q: list(instances) for q in trees_v}
        counts_qids = set(trees_v) if with_counts else None
        want_seen = bool(allowed) and run_kernel
        if want_seen:
            # one leaf carrying EVERY tree term — the union of its
            # postings IS the kernel-visible doc universe (an ("all",)
            # leaf would carry no terms, so the many-kernel's per-qid
            # term filter would feed it an empty bucket)
            trees_v["seen"] = ("node", (), (
                ("leaf", -1000, tuple(sorted(_leaf_terms(tree)))),
            ), (), 1)
            insts_v["seen"] = []
        kern = self._trees(trees_v, insts_v, None, av,
                           k_map={q: None for q in trees_v},
                           counts_qids=counts_qids) if run_kernel else None

        mask_expr = F.lit(0)
        for j, npid in enumerate(npids):
            mask_expr = mask_expr + F.when(
                F.col(npid).isNotNull(), F.lit(1 << j)).otherwise(0)
        base = pmp.withColumn("_mask", mask_expr)
        if kern is None:
            out = base.filter(F.col("_mask").isin(allowed)) if allowed \
                else base.filter(F.lit(False))
            out = out.withColumn("score", F.lit(None).cast("double"))
            if with_counts:
                out = out.withColumn("n_should",
                                     F.lit(None).cast("int"))
            return out.drop("_mask")
        seen = None
        if want_seen:
            seen = (kern.filter(F.col("qid") == "seen")
                    .select("doc_id", F.lit(True).alias("_seen")))
            kern = kern.filter(F.col("qid") != "seen")
        kv = kern.withColumn(
            "_vm", F.substring(F.col("qid"), 2, 12).cast("int")) \
            .drop("qid")
        joined = base.join(kv, "doc_id", "full_outer")
        if seen is not None:
            joined = joined.join(seen, "doc_id", "left")
        sel = F.col("_vm") == F.coalesce(F.col("_mask"), F.lit(0))
        if allowed:
            base_only = F.col("_vm").isNull() & \
                F.col("_mask").isin(allowed)
            if seen is not None:
                base_only = base_only & F.col("_seen").isNull()
            sel = sel | base_only
        out = joined.filter(sel).drop("_mask", "_vm")
        if seen is not None:
            out = out.drop("_seen")
        return out

    def _combine_phrases(self, plan, tree, instances, av, k: int,
                         msm: int,
                         ext_not_df: DataFrame | None = None,
                         slop_mode: str = "lucene") -> DataFrame:
        """Phrase-bearing query() tail: ONE phrase_match_many job for
        every phrase clause, pivoted to per-phrase columns, combined
        with the term-kernel output relationally.

        Candidate frames (Lucene BooleanQuery algebra):
          * MUST term clauses   -> the kernel output bounds candidacy;
          * else MUST phrases   -> the phrase pivot rows satisfying
            every required phrase, kernel scores left-joined on;
          * else (pure SHOULD)  -> full outer kernel x phrases.
        Root MUST_NOT term clauses: the kernel frame already excludes
        them; every other frame anti-joins a materialized NOT-doc set
        (one extra kernel call on the NOT children only — ADVICE 1).
        An unmatched MUST expansion empties the result instead of
        crashing the phrase join (ADVICE 2).

        Scoring (r5, Lucene parity): every non-prohibited phrase —
        MUST and SHOULD alike — contributes
        boost x Σidf(phrase terms) x BM25 saturation of its match
        count (Lucene's BooleanScorer sums the scores of required
        clauses too; earlier rounds scored SHOULD phrases only and
        ranked pure-phrase queries by raw match counts).  MUST_NOT
        phrases never score; only SHOULD phrases count toward msm.

        Float contract: score = kernel_score + (0.0 + c_p0 + c_p1 + …)
        in phrase-id order with 0.0 for unmatched phrases — the same
        association query_many's fold uses, so the two paths are
        bit-identical."""
        from .operators.fulltext import K1 as _K1, FIELD_SEP, idf
        from .operators.positional import phrase_match_many
        from .queryparser import MUST, MUST_NOT, SHOULD

        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if self.positional is None:
            raise ValueError("phrase clauses need a positional index "
                             "(build(..., positional=True))")
        has_terms = bool(instances)
        phr = list(plan.phrases)
        nested = list(plan.nested)
        if len(nested) > 4:
            raise ValueError(
                f"at most 4 nested phrase clauses per query "
                f"({len(nested)} given) — each doubles the kernel "
                f"variant count (Shannon expansion)")
        must_pids = [f"p{i}" for i, (o, *_r) in enumerate(phr)
                     if o == MUST]
        not_pids = [f"p{i}" for i, (o, *_r) in enumerate(phr)
                    if o == MUST_NOT]
        should_items = [(f"p{i}", p) for i, p in enumerate(phr)
                        if p[0] == SHOULD]
        if not has_terms and not (must_pids or should_items or nested):
            return empty
        if plan.has_must and not has_terms and not nested:
            # every MUST term/expansion clause expanded to nothing ->
            # the conjunction is empty (r4 crashed here — ADVICE 2);
            # with nested phrases a MUST group can still match via the
            # phrase path, so the variant machinery decides instead
            return empty

        pids_all = [f"p{i}" for i in range(len(phr))]
        npids = [f"n{j}" for j in range(len(nested))]
        pm_req = {f"p{i}": (text, slop, field)
                  for i, (_o, text, _b, slop, field) in enumerate(phr)}
        for j, (text, slop, field) in enumerate(nested):
            pm_req[f"n{j}"] = (text, slop, field)
        pm = phrase_match_many(self.positional, pm_req,
                               analyzer=self.analyzer,
                               slop_mode=slop_mode)
        pmp = (pm.groupBy("doc_id")
               .pivot("pid", pids_all + npids).agg(F.first("n_matches")))

        with_counts = bool(should_items)
        if nested:
            joined = self._nested_frame(tree, instances, av, pmp,
                                        npids, with_counts)
            not_docs = None     # base-only docs carry no query-term
                                # postings (the `seen` exclusion), and
                                # kernel-selected docs had NOT applied
                                # per variant — nothing left to anti-join
        else:
            kernel_out = self._tree(tree, instances, None, av,
                                    with_counts) if has_terms else None

            # NOT-term doc set for frames the kernel doesn't bound
            not_docs = None
            if tree[3] and not plan.has_must:
                nt = ("node", (), tree[3], (), 1)
                not_docs = self._tree(nt, [], None,
                                      self.avgdl).select("doc_id")

            if plan.has_must:
                joined = kernel_out.join(pmp, "doc_id", "left")
            elif must_pids:
                joined = pmp
                if kernel_out is not None:
                    joined = joined.join(kernel_out, "doc_id", "left")
                else:
                    joined = joined.withColumn(
                        "score", F.lit(None).cast("double"))
                    if with_counts:
                        joined = joined.withColumn(
                            "n_should", F.lit(None).cast("int"))
            else:
                joined = kernel_out.join(pmp, "doc_id", "full_outer") \
                    if kernel_out is not None else pmp.withColumn(
                        "score", F.lit(None).cast("double")).withColumn(
                        "n_should", F.lit(None).cast("int"))
        for pid in must_pids:
            joined = joined.filter(F.col(pid).isNotNull())
        for pid in not_pids:
            joined = joined.filter(F.col(pid).isNull())
        if not_docs is not None:
            joined = joined.join(not_docs, "doc_id", "left_anti")
        if ext_not_df is not None:
            joined = joined.join(ext_not_df, "doc_id", "left_anti")

        # ---- scoring: every MUST/SHOULD phrase contributes, in
        # phrase-id order; SHOULD phrases additionally count toward msm
        scoring_items = [(f"p{i}", p) for i, p in enumerate(phr)
                         if p[0] != MUST_NOT]
        all_pterms = sorted({
            (f"{p[4]}{FIELD_SEP}{t}" if p[4] else t)
            for _pid, p in scoring_items for t in self._terms(p[1])})
        dfs = self._dfs(all_pterms)
        n_total = F.coalesce(F.col("n_should"), F.lit(0)) \
            if with_counts and has_terms else F.lit(0)
        p_score = F.lit(0.0)
        for pid, (occ, text, boost, _sl, field) in scoring_items:
            pterms = [(f"{field}{FIELD_SEP}{t}" if field else t)
                      for t in self._terms(text)]
            w_p = boost * sum(idf(self.n_docs, dfs[t])
                              for t in pterms if t in dfs)
            nm = F.col(pid)
            contrib = F.when(
                nm.isNotNull(),
                F.lit(w_p) * nm * (_K1 + 1.0) / (nm + _K1))
            p_score = p_score + F.coalesce(contrib, F.lit(0.0))
            if occ == SHOULD:
                n_total = n_total + F.when(nm.isNotNull(), 1) \
                    .otherwise(0)
        score_total = F.coalesce(F.col("score"), F.lit(0.0)) + p_score
        if not should_items:
            return (joined
                    .withColumn("_s", score_total)
                    .select("doc_id", F.col("_s").alias("score"))
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))
        eff_msm = msm if (plan.has_must or must_pids) else max(msm, 1)
        return (joined
                .withColumn("_n", n_total)
                .withColumn("_s", score_total)
                .filter(F.col("_n") >= eff_msm)
                .select("doc_id", F.col("_s").alias("score"))
                .orderBy(F.desc("score"), F.asc("doc_id")).limit(k))

    def query_many(self, queries: dict[str, str], k: int = 10,
                   msm: int = 0, max_expansions: int = 64,
                   default_operator: str = "OR",
                   multifield: bool = False,
                   neg_collect_max: int | None = None,
                   slop_mode: str = "lucene") -> DataFrame:
        """Execute a SET of classic-Lucene query strings in ONE Spark
        job per stage -> (qid, doc_id, score), bit-identical to
        per-query ``query()`` — the serving shape: every dictionary
        expansion of EVERY query goes through one expand_specs call (on
        the driver from the resident dictionary; regex clauses, or every
        clause above TERM_DICT_CAP terms, in one Spark job), every
        compiled tree evaluates against each posting bucket in one
        applyInPandas pass (operators/boolean.py::
        boolean_tree_topk_many), and (r5) every phrase clause of every
        query evaluates in ONE positional job
        (operators/positional.py::phrase_match_many), combined
        relationally per qid.  r4 raised on any phrase clause here —
        VERDICT item 2."""
        from .operators.fulltext import (FIELD_SEP, K1 as _K1,
                                         OversizedExpansion, idf)
        from .operators.positional import phrase_match_many
        from .operators.postings import matched_doc_ids
        from .querycompile import _Leaf, compile_query
        from .queryparser import MUST, MUST_NOT, SHOULD, parse_query

        SEP = "\x00"
        out_schema = "qid string, doc_id long, score double"
        known = set(self.fields) if self.fields else set()
        default_field = self.fields[0] if self.fields else None
        plans, spans, all_specs = {}, {}, []
        for qid, q in queries.items():
            if SEP in qid:
                raise ValueError(f"qid {qid!r} contains NUL")
            p = compile_query(parse_query(q, default_operator),
                              self._terms, default_field, msm,
                              max_expansions, known_fields=known,
                              all_fields=(self.fields if multifield
                                          else None))
            if p.nested:
                raise ValueError(
                    f"nested phrase clauses are unsupported in "
                    f"query_many (query {qid!r}) — use query(); "
                    f"top-level phrases batch fine")
            plans[qid] = p
            spans[qid] = (len(all_specs), len(all_specs) + len(p.specs))
            all_specs.extend(p.specs)
        if any(p.phrases for p in plans.values()) \
                and self.positional is None:
            raise ValueError("phrase clauses need a positional index "
                             "(build(..., positional=True))")
        # root-level negative expansions may switch to the doc-set
        # anti-join above the threshold — same rule as query() (the r4
        # fix applied only there; serving batches carry the same
        # -huge* clauses)
        root_neg_sids = {spans[qid][0] + sid
                         for qid, p in plans.items()
                         for lf in p.root.nots if isinstance(lf, _Leaf)
                         for sid in lf.spec_ids}
        ncm = self.NEG_COLLECT_MAX if neg_collect_max is None \
            else neg_collect_max
        expansions = self._expand(all_specs, neg_collect_max=ncm,
                                  neg_docset_sids=root_neg_sids) \
            if all_specs else []
        ext_not_many = None       # (qid, doc_id) excluded via doc sets
        trees, insts, all_inst_terms = {}, {}, set()
        qmeta: dict[str, dict] = {}
        k_map, counts_qids = {}, set()
        pm_req: dict[str, tuple] = {}     # "<qid>\x00p<i>" -> phrase
        pid_meta_rows = []                # (pid, role, idx, w)
        for qid, p in plans.items():
            lo, hi = spans[qid]
            t, i = p.finalize(expansions[lo:hi])
            has_terms = bool(i)
            phr = list(p.phrases)
            must_phr = [x for x in phr if x[0] == MUST]
            should_phr = [x for x in phr if x[0] == SHOULD]
            if not has_terms and not (must_phr or should_phr):
                continue                  # no positive evidence
            if p.has_must and not has_terms:
                continue                  # empty MUST conjunction
            meta = {"has_must_terms": p.has_must,
                    "n_must_phr": len(must_phr),
                    "eff_msm": (msm if (p.has_must or must_phr)
                                else max(msm, 1)) if should_phr else 0}
            qmeta[qid] = meta
            ext_sids = [sid for sid in range(*spans[qid])
                        if isinstance(expansions[sid],
                                      OversizedExpansion)]
            for sid in ext_sids:
                ds = matched_doc_ids(
                    self.postings, expansions[sid].terms_df) \
                    .select(F.lit(qid).alias("qid"), "doc_id")
                ext_not_many = ds if ext_not_many is None else \
                    ext_not_many.union(ds)
            if has_terms:
                trees[qid], insts[qid] = t, i
                all_inst_terms.update(x for x, _, _ in i)
                if phr or ext_sids:
                    k_map[qid] = None     # post-filtered: no cuts
                if should_phr:
                    counts_qids.add(qid)
            if phr:
                for j, (occ, text, boost, slop, field) in enumerate(phr):
                    pid = f"{qid}{SEP}p{j}"
                    pm_req[pid] = (text, slop, field)
                    role = {"MUST": "m", "MUST_NOT": "n",
                            "SHOULD": "s"}[occ]
                    w = 0.0
                    if occ != MUST_NOT:
                        # MUST phrases score too (r5 Lucene parity —
                        # same weight formula as SHOULD)
                        pterms = [(f"{field}{FIELD_SEP}{x}" if field
                                   else x) for x in self._terms(text)]
                        w = (boost, tuple(pterms))  # df lookup later
                    pid_meta_rows.append([pid, role, j, w])
                # external NOT-term doc set (same rule as query():
                # only frames the kernel doesn't bound need it)
                if t[3] and not p.has_must:
                    nq = qid + SEP + "not"
                    trees[nq] = ("node", (), t[3], (), 1)
                    insts[nq] = []
                    k_map[nq] = None
        if not qmeta:
            return self.spark.createDataFrame([], out_schema)
        if self.fields:
            av = {t: self.field_avgdl[t.split(FIELD_SEP, 1)[0]
                                      if FIELD_SEP in t
                                      else self.fields[0]]
                  for t in all_inst_terms}
        else:
            av = self.avgdl

        kernel = self._trees(trees, insts, k, av, k_map=k_map,
                             counts_qids=counts_qids) if trees else \
            self.spark.createDataFrame(
                [], out_schema + (", n_should int" if counts_qids
                                  else ""))
        if counts_qids and "n_should" not in kernel.columns:
            kernel = kernel.withColumn("n_should",
                                       F.lit(0).cast("int"))
        not_df = None
        pseudo = [q for q in trees if q.endswith(SEP + "not")]
        if pseudo:
            not_df = (kernel.filter(F.col("qid").isin(pseudo))
                      .select(F.substring_index("qid", SEP, 1)
                              .alias("qid"), "doc_id"))
            kernel = kernel.filter(~F.col("qid").isin(pseudo))

        if not pm_req:
            combined = kernel
            if "n_should" in combined.columns:
                combined = combined.drop("n_should")
            if ext_not_many is None:
                # scores already final; the kernel already cut
                return combined
            combined = combined.join(ext_not_many, ["qid", "doc_id"],
                                     "left_anti")
            from pyspark.sql import Window
            w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                                  F.asc("doc_id"))
            return (combined.withColumn("_r", F.row_number().over(w))
                    .filter(F.col("_r") <= k).drop("_r"))

        # ---- phrase stage: one positional job for every phrase ----
        # resolve scoring weights (one df lookup across all queries)
        sterms = sorted({x for r in pid_meta_rows if r[1] != "n"
                         for x in r[3][1]})
        dfs = self._dfs(sterms)
        for r in pid_meta_rows:
            if r[1] != "n":
                boost, pterms = r[3]
                r[3] = boost * sum(idf(self.n_docs, dfs[x])
                                   for x in pterms if x in dfs)
        pm = phrase_match_many(self.positional, pm_req,
                               analyzer=self.analyzer,
                               slop_mode=slop_mode)
        pid_meta = F.broadcast(self.spark.createDataFrame(
            pid_meta_rows, "pid string, role string, idx int, w double"))
        nm = F.col("n_matches")
        contrib = (F.col("w") * nm * (_K1 + 1.0) / (nm + _K1))
        agg = (pm.join(pid_meta, "pid")
               .select(F.substring_index("pid", SEP, 1).alias("qid"),
                       "doc_id", "role", "idx", "n_matches",
                       F.when(F.col("role") != "n", contrib)
                       .alias("_c"))
               .groupBy("qid", "doc_id")
               .agg(F.sum(F.when(F.col("role") == "m", 1)
                          .otherwise(0)).alias("_n_must"),
                    F.max(F.when(F.col("role") == "n", 1)
                          .otherwise(0)).alias("_any_not"),
                    F.sum(F.when(F.col("role") == "s", 1)
                          .otherwise(0)).alias("_p_n"),
                    F.aggregate(
                        F.sort_array(F.collect_list(F.when(
                            F.col("_c").isNotNull(),
                            F.struct("idx", F.col("_c").alias("c"))))),
                        F.lit(0.0),
                        lambda acc, x: acc + x["c"]).alias("_p_score")))
        qm_rows = [(qid, m["has_must_terms"],
                    m["n_must_phr"], m["eff_msm"])
                   for qid, m in qmeta.items()]
        qm = F.broadcast(self.spark.createDataFrame(
            qm_rows, "qid string, has_must_terms boolean, "
                     "n_must_phr int, eff_msm int"))
        if "n_should" not in kernel.columns:
            kernel = kernel.withColumn("n_should", F.lit(0).cast("int"))
        joined = (kernel.join(agg, ["qid", "doc_id"], "full_outer")
                  .join(qm, "qid"))
        if not_df is not None:
            joined = joined.join(not_df, ["qid", "doc_id"], "left_anti")
        if ext_not_many is not None:
            joined = joined.join(ext_not_many, ["qid", "doc_id"],
                                 "left_anti")
        n_total = (F.coalesce(F.col("n_should"), F.lit(0))
                   + F.coalesce(F.col("_p_n"), F.lit(0)))
        score = (F.coalesce(F.col("score"), F.lit(0.0))
                 + (F.lit(0.0)
                    + F.coalesce(F.col("_p_score"), F.lit(0.0))))
        res = (joined
               .filter(~F.col("has_must_terms")
                       | F.col("score").isNotNull())
               .filter(F.coalesce(F.col("_n_must"), F.lit(0))
                       == F.col("n_must_phr"))
               .filter(F.coalesce(F.col("_any_not"), F.lit(0)) == 0)
               .filter(n_total >= F.col("eff_msm"))
               .select("qid", "doc_id", score.alias("score")))
        from pyspark.sql import Window
        w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                              F.asc("doc_id"))
        return (res.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= k).drop("_r"))

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
        """RegexpQuery role: match the term dictionary with Spark's
        native ``rlike`` (the automaton package's regex runner maps to
        the JVM regex engine — SURVEY A19), expand df-descending like
        Lucene's top-terms rewrite (bounded), WAND the union.

        The pattern is anchored to the WHOLE term (``^(?:...)$``) —
        Lucene RegexpQuery semantics; a bare ``rlike`` would match
        substrings ('cat' hitting 'concatenate')."""
        terms = [r["term"] for r in
                 (self.tstats.filter(
                     F.col("term").rlike(f"^(?:{pattern})$"))
                  .orderBy(F.desc("df"), F.asc("term"))
                  .limit(max_expansions).collect())]
        return self._wand([(t, 1.0) for t in sorted(terms)], k)

    def compact(self) -> "FulltextIndex":
        """Rewrite fragmented posting blocks — and the positional index,
        when present — into full-size ones (operators/postings.py::
        compact_postings + operators/positional.py::compact_positional,
        Lucene's TieredMergePolicy role; bit-identical query results).
        Returns a NEW index over the compacted, eagerly-materialized
        layout with its derived term stats cached (queries must not
        re-aggregate the postings per call); the original index is
        untouched (close() it to release its caches)."""
        from .operators.positional import compact_positional
        from .operators.postings import compact_postings
        cp = compact_postings(self.postings).localCheckpoint(eager=True)
        ts = term_stats_from_postings(cp).cache()
        pos = None
        if self.positional is not None:
            pos = compact_positional(self.positional) \
                .localCheckpoint(eager=True)
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
