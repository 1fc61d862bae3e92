"""Boolean query evaluation over the posting blocks (Lucene BooleanQuery).

The reference ships the analysis side of Lucene; its query layer (which
this engine re-creates Spark-first, SURVEY §2-C) owes users Lucene's
BooleanQuery semantics: MUST clauses all match (AND), SHOULD clauses
score and at least ``minimum_should_match`` of them match, MUST_NOT
clauses exclude (and never score) — Lucene's BooleanQuery /
MinShouldMatchSumScorer roles, re-expressed over this engine's block
postings instead of a doc-at-a-time scorer tree.

Distribution model — identical to WAND's (operators/wand.py): posting
blocks live in doc-disjoint ``rbucket`` ranges, so every doc's full term
membership is visible inside one bucket.  One applyInPandas pass per
bucket evaluates every compiled query tree of a query SET vectorized
(NumPy set algebra over the decoded doc arrays — conjunctions/counts
via ``np.unique``, exclusions via ``np.isin``), emits each query's
bucket top-k, and a global top-k finishes (TakeOrderedAndProject for a
single tree, a per-qid window for a set).  Flat boolean queries
(boolean_topk) are depth-1 trees.  Per-bucket work is bounded by the
build partition size; nothing is all-pairs and nothing funnels through
one task.

Unlike WAND (top-k pruning, document-at-a-time cursors), boolean
evaluation wants the MATCHING SET, whose candidates are bounded by the
rarest MUST term's postings inside each bucket — full-block decode +
vectorized set ops beats cursor hopping in a batch engine, and keeps the
whole kernel NumPy (no per-doc Python).

Float contract: per-doc scores accumulate clause contributions in
term-lexicographic order (the same rule as the exhaustive scorer and
WAND), so results are bit-identical at any parallelism.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.codec import delta_decode, vbyte_decode
from .fulltext import B, K1, idf as bm25_idf
from .wand import _filter_terms, _topk_cut


def _decode_term(rows: pd.DataFrame) -> tuple[np.ndarray, np.ndarray,
                                              np.ndarray]:
    """Concatenate one term's blocks -> (docs, tfs, dls), doc-ascending.

    Blocks of one term are doc-disjoint and first_doc-ordered by
    construction (see _TermCursor in wand.py), so concatenation in
    first_doc order IS global doc order."""
    rows = rows.sort_values("first_doc")
    docs = np.concatenate([
        delta_decode(vbyte_decode(bb)).astype(np.int64)
        for bb in rows["doc_blob"]])
    tfs = np.concatenate([
        vbyte_decode(bb).astype(np.float64) for bb in rows["tf_blob"]])
    dls = np.concatenate([
        vbyte_decode(bb).astype(np.float64) for bb in rows["dl_blob"]])
    return docs, tfs, dls


def _leaf_terms(node) -> set[str]:
    """Every term carried by a leaf under ``node`` (MUST, SHOULD and NOT
    children alike — NOT terms must be fetched to exclude)."""
    if node[0] == "leaf":
        return set(node[2])
    if node[0] == "node":
        return set().union(*(_leaf_terms(c)
                             for c in node[1] + node[2] + node[3]))
    return set()


def _t_match(node, decoded, cache):
    """Sorted-unique doc set matching ``node`` inside one bucket.

    Node encoding (hashable nested tuples, built by querycompile):
      ("leaf", leaf_id, (term, ...))
      ("node", (must children...), (should children...),
               (not children...), msm)
    Semantics per level = Lucene BooleanQuery: every MUST child matches;
    >= msm SHOULD children match (a pure-SHOULD level needs >= 1, baked
    into the node's msm at compile time); no NOT child matches."""
    got = cache.get(node)
    if got is not None:
        return got
    if node[0] == "all":
        # the bucket's visible doc universe (union of every decoded
        # term's docs) — the Shannon-expansion stand-in for a nested
        # phrase assumed TRUE; docs invisible to the kernel are added
        # relationally by the engine (they carry no term evidence)
        parts = [d[0] for d in decoded.values()]
        m = np.unique(np.concatenate(parts)) if parts else \
            np.empty(0, dtype=np.int64)
        cache[node] = m
        return m
    if node[0] == "leaf":
        parts = [decoded[t][0] for t in node[2] if t in decoded]
        if not parts:
            m = np.empty(0, dtype=np.int64)
        elif len(parts) == 1:
            m = parts[0]
        else:
            m = np.unique(np.concatenate(parts))
        cache[node] = m
        return m
    _, must, should, nots, msm = node
    cand = None
    for c in must:
        u = _t_match(c, decoded, cache)
        cand = u if cand is None else np.intersect1d(
            cand, u, assume_unique=True)
        if cand.size == 0:
            break
    should_sets = [_t_match(c, decoded, cache) for c in should]
    if cand is None:
        live = [s for s in should_sets if s.size]
        if not live:
            cand = np.empty(0, dtype=np.int64)
        elif msm <= 1:
            cand = np.unique(np.concatenate(live))
        else:
            u, cnt = np.unique(np.concatenate(live), return_counts=True)
            cand = u[cnt >= msm]
    elif msm and cand.size:
        if len(should_sets) < msm:
            cand = np.empty(0, dtype=np.int64)
        else:
            allc = np.concatenate(
                [s[np.isin(s, cand, assume_unique=True)]
                 for s in should_sets]) if should_sets else \
                np.empty(0, dtype=np.int64)
            u, cnt = np.unique(allc, return_counts=True)
            cand = u[cnt >= msm]
    for c in nots:
        if cand.size == 0:
            break
        n = _t_match(c, decoded, cache)
        if n.size:
            cand = cand[~np.isin(cand, n, assume_unique=True)]
    cache[node] = cand
    return cand


def _tree_bucket(decoded, tree, instances, k: int | None,
                 k1: float, b: float, with_counts: bool) -> pd.DataFrame:
    """Evaluate a compiled query TREE inside one doc-range bucket.

    ``decoded``: {term: (docs, tfs, dls)} for the tree's terms in this
    bucket (_decode_term output, shared read-only across the set).
    ``instances``: [(term, weight, avgdl, leaf_id), ...] sorted by
    (term, leaf_id) — one scoring instance per positive-path leaf
    membership; weight = idf x the boost product along the leaf's path.
    Lucene-faithfully, a term appearing in two clauses scores once per
    clause.  A leaf contributes to a doc iff the doc matches the leaf
    AND every ancestor node (its effective set) — a SHOULD sub-query
    that fails to match contributes nothing even when the doc survives
    via other clauses.  Accumulation order is (term, leaf_id) — fixed
    at any parallelism (float contract)."""
    cols = {"doc_id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64")}
    if with_counts:
        cols["n_should"] = pd.Series(dtype="int32")
    empty = pd.DataFrame(cols)
    if not decoded:
        return empty
    cache: dict = {}
    cand = _t_match(tree, decoded, cache)
    if cand.size == 0:
        return empty

    # effective sets top-down: eff(child) = match(child) ∩ eff(parent)
    effs: dict[int, np.ndarray] = {}

    def walk(node, eff):
        if node[0] == "all":
            return                  # no scoring instances beneath
        if node[0] == "leaf":
            m = cache[node]
            effs[node[1]] = m[np.isin(m, eff, assume_unique=True)] \
                if m.size and eff.size else np.empty(0, dtype=np.int64)
            return
        m = cache[node]
        my_eff = m[np.isin(m, eff, assume_unique=True)] \
            if m.size and eff.size else np.empty(0, dtype=np.int64)
        for c in node[1] + node[2]:      # must + should children score
            walk(c, my_eff)

    walk(tree, cand)

    scores = np.zeros(cand.size, dtype=np.float64)
    for term, w, avgdl_t, leaf_id in instances:
        dec = decoded.get(term)
        eff = effs.get(leaf_id)
        if dec is None or eff is None or eff.size == 0:
            continue
        docs, tfs, dls = dec
        pos = np.searchsorted(docs, eff)
        ok = pos < docs.size
        hit = np.zeros(eff.size, dtype=bool)
        hit[ok] = docs[pos[ok]] == eff[ok]
        if not hit.any():
            continue
        p = pos[hit]
        contrib = (w * (tfs[p] * (k1 + 1.0))
                   / (tfs[p] + k1 * (1.0 - b + b * dls[p] / avgdl_t)))
        cpos = np.searchsorted(cand, eff[hit])   # eff ⊆ cand
        scores[cpos] += contrib

    if with_counts:
        counts = np.zeros(cand.size, dtype=np.int32)
        for c in tree[2]:               # root SHOULD children
            m = cache[c]
            if m.size:
                counts[np.isin(cand, m, assume_unique=True)] += 1
        if k is None:
            return pd.DataFrame({"doc_id": cand, "score": scores,
                                 "n_should": counts})
        d, s = _topk_cut(cand, scores, k)
        cpos = np.searchsorted(cand, d)
        return pd.DataFrame({"doc_id": d, "score": s,
                             "n_should": counts[cpos]})
    if k is None:
        return pd.DataFrame({"doc_id": cand, "score": scores})
    d, s = _topk_cut(cand, scores, k)
    return pd.DataFrame({"doc_id": d, "score": s})


def _tree_set(postings: DataFrame, tstats: DataFrame, n_docs: int, avgdl,
              trees: dict, instances_raw: dict, k: int | None, k1: float,
              b: float, k_map: dict, counts_qids: set) -> DataFrame:
    """The tree-kernel plan over a SET of compiled trees -> per-bucket
    (qid, doc_id, score[, n_should]) rows, before any global top-k: one
    df collect for the union of leaf terms, one pruned scan, one
    applyInPandas pass running every tree against each bucket."""
    spark = postings.sparkSession
    with_counts = bool(counts_qids)
    schema = "qid string, doc_id long, score double" + \
        (", n_should int" if with_counts else "")
    per_q_terms = {qid: _leaf_terms(t) for qid, t in trees.items()}
    all_terms = sorted(set().union(*per_q_terms.values()))
    if not all_terms:
        return spark.createDataFrame([], schema)
    dfs = {r["term"]: int(r["df"]) for r in
           _filter_terms(tstats, all_terms).select("term", "df").collect()}
    instances = {
        qid: sorted(
            (t, boost * bm25_idf(n_docs, dfs[t]),
             avgdl if isinstance(avgdl, float) else avgdl[t], leaf_id)
            for t, boost, leaf_id in raw if t in dfs)
        for qid, raw in instances_raw.items()}
    alive = sorted(t for t in all_terms if t in dfs)
    if not alive:
        return spark.createDataFrame([], schema)
    qterms_alive = {qid: {t for t in ts if t in dfs}
                    for qid, ts in per_q_terms.items()}

    def bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        # r6: decode each TERM once per bucket and assemble per-query
        # views from the shared arrays (_tree_bucket is read-only over
        # the decoded tuples)
        by_term = dict(tuple(pdf.groupby("term")))
        term_dec: dict[str, tuple] = {}
        for qid, tree in trees.items():
            # restrict to THIS query's terms (the wand_topk_many rule:
            # the union bucket would corrupt per-query statistics)
            dec = {}
            for t in qterms_alive[qid]:
                d = term_dec.get(t)
                if d is None:
                    g = by_term.get(t)
                    if g is None:
                        continue
                    d = term_dec[t] = _decode_term(g)
                dec[t] = d
            wc = qid in counts_qids
            r = _tree_bucket(dec, tree, instances[qid],
                             k_map.get(qid, k), k1, b, wc)
            if with_counts and not wc:
                r["n_should"] = np.zeros(len(r), dtype=np.int32)
            r.insert(0, "qid", qid)
            outs.append(r)
        return pd.concat(outs, ignore_index=True)

    matched = _filter_terms(postings, alive)
    return matched.groupBy("rbucket").applyInPandas(bucket, schema=schema)


def boolean_tree_topk(postings: DataFrame, tstats: DataFrame, n_docs: int,
                      avgdl, tree, instances_raw,
                      k: int | None = 10, k1: float = K1, b: float = B,
                      with_counts: bool = False) -> DataFrame:
    """Boolean top-k over a compiled query TREE -> (doc_id, score
    [, n_should]) — the BooleanQuery kernel behind FulltextIndex.query's
    grouped/boosted/fielded path and, as depth-1 trees, behind
    boolean_topk / search_boolean (querycompile.py builds ``tree``).

    ``avgdl``: float (single-field) or {field_prefixed_term -> avgdl};
    ``instances_raw``: [(term, boost_product, leaf_id)] with idf NOT yet
    applied (df lookup happens here, one collect for the whole query).
    ``k=None`` returns the full scored match set (callers that
    post-filter with phrase constraints).  ``with_counts`` adds the
    per-doc count of matched ROOT-level SHOULD children (phrase-msm
    integration).

    Runs boolean_tree_topk_many's kernel as a set of one, finished by a
    global orderBy().limit() — one Spark job fewer than the per-qid
    window."""
    local = _tree_set(postings, tstats, n_docs, avgdl, {"_": tree},
                      {"_": instances_raw}, k, k1, b, {},
                      {"_"} if with_counts else set()).drop("qid")
    if k is None:
        return local
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def boolean_tree_topk_many(postings: DataFrame, tstats: DataFrame,
                           n_docs: int, avgdl, trees: dict,
                           instances_raw: dict, k: int = 10,
                           k1: float = K1, b: float = B,
                           k_map: dict | None = None,
                           counts_qids: set | None = None) -> DataFrame:
    """Evaluate a whole SET of compiled query trees in ONE Spark job ->
    (qid, doc_id, score[, n_should]) — the serving shape
    (wand_topk_many's role for the grouped/boosted/fielded query path):
    matched terms unioned into one pruned scan, ONE applyInPandas pass
    runs every query against each bucket, one global per-qid top-k
    window.  Results are bit-identical to per-query
    ``boolean_tree_topk``.

    ``trees``: {qid: tree}; ``instances_raw``: {qid: [(term, boost,
    leaf_id)]}; ``avgdl``: float or {term: avgdl} (multi-field).

    r5 (phrase-bearing serving): ``k_map`` overrides ``k`` per qid —
    ``None`` disables both the per-bucket cut AND the global top-k for
    that qid (callers post-filter with phrase constraints, exactly
    boolean_tree_topk's ``k=None`` contract).  ``counts_qids``: qids
    whose rows also need the matched-root-SHOULD count; when given, the
    output carries ``n_should`` (0 for other qids)."""
    k_map = dict(k_map or {})
    local = _tree_set(postings, tstats, n_docs, avgdl, trees,
                      instances_raw, k, k1, b, k_map, counts_qids or set())
    uncut = {qid for qid in trees if k_map.get(qid, k) is None}
    if len(uncut) == len(trees):
        return local
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    out = local.withColumn("_r", F.row_number().over(w))
    keep = F.col("_r") <= k
    if uncut:
        keep = keep | F.col("qid").isin(sorted(uncut))
    return out.filter(keep).drop("_r")


def boolean_topk(postings: DataFrame, tstats: DataFrame, n_docs: int,
                 avgdl: float, must: list[str] | None = None,
                 should: list[str] | None = None,
                 must_not: list[str] | None = None, msm: int = 0,
                 k: int = 10, k1: float = K1, b: float = B) -> DataFrame:
    """Boolean top-k -> (doc_id, score) over a built postings index —
    the per-TERM form (each term its own clause): every ``must`` term
    matches, ≥ ``msm`` of the ``should`` terms match (pure-SHOULD
    requires one), no ``must_not`` term matches, BM25 over matched
    must+should terms.  Runs as a depth-1 tree over
    ``boolean_tree_topk``, one leaf and one unit-boost scoring instance
    per term (a must term absent from the corpus empties the result).

    Overlap normalization (documented divergence): a term listed in
    BOTH must and should is kept as a MUST clause only (``should -
    must``), scoring once and not counting toward msm — Lucene's
    BooleanQuery would keep both clauses, score the term twice and let
    it satisfy minimumShouldMatch.  FulltextIndex.query compiles its
    own trees and scores per clause, Lucene-faithfully."""
    must_s = sorted(set(must or []))
    should_s = sorted(set(should or []) - set(must_s))
    not_s = sorted(set(must_not or []))
    leaves = [("leaf", i, (t,))
              for i, t in enumerate(must_s + should_s + not_s)]
    nm, ns = len(must_s), len(should_s)
    tree = ("node", tuple(leaves[:nm]), tuple(leaves[nm:nm + ns]),
            tuple(leaves[nm + ns:]), msm if must_s else max(msm, 1))
    instances = [(t, 1.0, i) for i, t in enumerate(must_s + should_s)]
    return boolean_tree_topk(postings, tstats, n_docs, float(avgdl), tree,
                             instances, k, k1, b)
