"""Block-max top-k entries: the flat-disjunction front ends of the one
serving plan (operators/boolean.py::_tree_set, SURVEY.md §2-C).

``wand_topk``, ``wand_topk_many``, ``wand_topk_terms`` and
``prefix_topk`` build flat SHOULD trees, one leaf per (term, weight)
entry, and run them through the plan's per-bucket path
(boolean._bucket_topk) like every other query, on the driver for a set
below boolean.DRIVER_POSTINGS_CAP postings and in one grouped pass
otherwise.  There, a query with a
finite k, no negative weight and no phrase leaf prunes with block
metadata only: a vectorized window-at-a-time MaxScore filter (Lucene's
MaxScoreBulkScorer) in front of the one decoder
(postings.decode_postings), then the tree kernel scores the surviving
docs.

Block upper bounds use the stored (max_tf, min_dl): BM25 impact is
monotone ↑ in tf and ↓ in dl, so the scorer's own expression at
(max_tf, min_dl) bounds every doc in the block (see postings.py on why
the build stores these instead of a precomputed impact); the weight
w = idf x boost scales every bound linearly, so pruning stays exact.

Float contract: per-doc scores sum contributions in entry order (term,
then weight), the tree kernel's instance order — bit-identical results
whether a bucket prunes or not, at any parallelism.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..analysis import analyze
from .boolean import _disjunction_set
from .fulltext import B, K1
from .postings import term_dfs


def wand_topk(postings: DataFrame, tstats: DataFrame, n_docs: int,
              avgdl: float, query: str, k: int = 10,
              k1: float = K1, b: float = B) -> DataFrame:
    """Block-max WAND top-k for one query string -> (doc_id, score).

    The query text runs through the SAME analysis chain as indexing.
    """
    terms = sorted({t.term for t in analyze(query)})
    return wand_topk_terms(postings, tstats, n_docs, avgdl, terms, k, k1, b)


def wand_topk_many(postings: DataFrame, tstats: DataFrame, n_docs: int,
                   avgdl: float, queries: dict[str, str], k: int = 10,
                   k1: float = K1, b: float = B,
                   terms_fn=None) -> DataFrame:
    """Evaluate a whole query SET in one plan -> (qid, doc_id, score),
    each query a flat disjunction of its analyzed terms (boolean.py::
    _tree_set: on the driver below DRIVER_POSTINGS_CAP postings, else
    one grouped pass and a per-qid window).  Results are bit-identical
    to per-query wand_topk.

    ``terms_fn``: query-string -> term list; defaults to the flagship
    analysis chain (custom Analyzer chains pass ``analyzer.terms``)."""
    if terms_fn is None:
        terms_fn = lambda q: [t.term for t in analyze(q)]
    entries = {qid: [(t, 1.0) for t in sorted(set(terms_fn(q)))]
               for qid, q in queries.items()}
    terms = {t for es in entries.values() for t, _ in es}
    return _disjunction_set(postings, term_dfs(tstats, terms), n_docs,
                            avgdl, entries, k, k1, b)


def prefix_topk(postings: DataFrame, tdict: DataFrame, n_docs: int,
                avgdl: float, prefix: str, k: int = 10,
                max_expansions: int = 64) -> DataFrame:
    """Prefix (wildcard `p*`) query — the reference's automaton package
    (SURVEY A19) maps to a RANGE predicate on the sorted term dictionary:
    expand matching terms (bounded, df-descending like Lucene's top-terms
    rewrite), then score the union as one flat disjunction."""
    terms = [r["term"] for r in
             (tdict.filter(F.col("term").startswith(prefix.lower()))
              .orderBy(F.desc("df"), F.asc("term"))
              .limit(max_expansions).collect())]
    return wand_topk_terms(postings, tdict, n_docs, avgdl, sorted(terms), k)


def wand_topk_terms(postings: DataFrame, tstats: DataFrame, n_docs: int,
                    avgdl: float, terms: list[str] | None, k: int = 10,
                    k1: float = K1, b: float = B,
                    term_boosts: list[tuple[str, float]] | None = None
                    ) -> DataFrame:
    """Top-k of the flat disjunction of pre-analyzed terms -> (doc_id,
    score).

    ``tstats`` is (term, df, ...) — from term_stats_from_postings or the
    DataFrame path; only the query's rows are collected (driver-side idf,
    see fulltext.idf on why).

    ``term_boosts``: optional weighted-CLAUSE form, [(term, weight)]
    sorted by term, possibly with REPEATED terms (one entry per query
    clause — Lucene's fuzzy edit-distance downweight, boosted clauses).
    Each entry becomes its own SHOULD leaf with idf x weight.

    Runs wand_topk_many's plan as a set of one."""
    entries = term_boosts if term_boosts is not None \
        else [(t, 1.0) for t in (terms or [])]
    return _disjunction_set(
        postings, term_dfs(tstats, {t for t, _ in entries}), n_docs, avgdl,
        {"_": entries}, k, k1, b).drop("qid")
