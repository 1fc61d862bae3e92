"""Boolean query evaluation over the posting blocks (Lucene BooleanQuery).

The reference ships the analysis side of Lucene; its query layer (which
this engine re-creates Spark-first, SURVEY §2-C) owes users Lucene's
BooleanQuery semantics: MUST clauses all match (AND), SHOULD clauses
score and at least ``minimum_should_match`` of them match, MUST_NOT
clauses exclude (and never score) — Lucene's BooleanQuery /
MinShouldMatchSumScorer roles, re-expressed over this engine's block
postings instead of a doc-at-a-time scorer tree.

Distribution model: posting blocks live in doc-disjoint ``rbucket``
ranges, so every doc's full term membership is visible inside one
bucket.  ``_tree_set`` is the package's one serving plan over the
postings: one pruned scan, one applyInPandas pass per bucket that
evaluates every compiled query tree of a query SET, each query's bucket
top-k, and a global top-k finish (TakeOrderedAndProject for a single
tree, a per-qid window for a set).  Flat boolean queries (boolean_topk)
are depth-1 trees; search, search_many and the WAND entries are flat
SHOULD trees (_disjunction_set).  Phrase clauses of FulltextIndex.query
are leaves of the same trees (Lucene's PhraseScorer beside the term
scorers): the phrase terms' positional blocks ride in the same grouped
pass, and per bucket each distinct phrase is evaluated once by the
positional kernels (operators/positional.py::_run_phrase).  Per-bucket
work is bounded by the build partition size; nothing is all-pairs and
nothing funnels through one task.

Per bucket and per query, ``_bucket_topk`` picks one of two
strategies before anything decodes.  A flat disjunction (root of SHOULD
leaves only) of one entry, or one whose postings are sparse in the
bucket, prunes with block-max WAND (operators/wand.py: impact-ordered
single-term scan or document-at-a-time cursors, blocks decoded on
demand), as Lucene prunes every top-k disjunction whichever parser
built it.  Every other query — MUST, NOT, msm > 1, phrases,
nested sub-queries, dense disjunctions — wants its MATCHING SET, whose
candidates are bounded by the rarest MUST term's postings inside each
bucket: one whole-bucket decode + vectorized set algebra
(``_tree_bucket``: conjunctions/counts via ``np.unique``, exclusions
via ``np.isin``) beats cursor hopping there, with no per-doc Python.

Float contract: per-doc scores accumulate clause contributions in
instance order — term, then weight (the same rule as the exhaustive
scorer and the WAND cursors) — then add the scoring phrases' sum in
phrase order, so results are bit-identical at any parallelism and
whichever strategy a bucket takes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .fulltext import B, K1, empty_frame, idf as bm25_idf
from .positional import _decode_flat, _run_phrase, _spec_terms
from .postings import _filter_terms, _topk_cut, decode_postings, term_dfs
from .wand import DENSE_THRESHOLD, _BlobCache, _wand_bucket


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
      ("phrase", phrase_id)   — match set pre-seeded in ``cache``
      ("node", (must children...), (should children...),
               (not children...), msm)
    Semantics per level = Lucene BooleanQuery: every MUST child matches;
    >= msm SHOULD children match (a pure-SHOULD level needs >= 1, baked
    into the node's msm at compile time); no NOT child matches."""
    got = cache.get(node)
    if got is not None:
        return got
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


def _tree_bucket(decoded, tree, instances, k: int | None, k1: float,
                 b: float, phrase_hits=(), scored=()) -> pd.DataFrame:
    """Evaluate a compiled query TREE inside one doc-range bucket.

    ``decoded``: {term: (docs, tfs, dls)} for the tree's terms in this
    bucket (views of one postings.decode_postings pass, shared
    read-only across the set).
    ``instances``: [(term, weight, avgdl, leaf_id), ...] sorted — one
    scoring instance per positive-path leaf
    membership; weight = idf x the boost product along the leaf's path.
    Lucene-faithfully, a term appearing in two clauses scores once per
    clause.  A leaf contributes to a doc iff the doc matches the leaf
    AND every ancestor node (its effective set) — a SHOULD sub-query
    that fails to match contributes nothing even when the doc survives
    via other clauses.  Accumulation order is the instance order —
    fixed at any parallelism (float contract).

    ``phrase_hits``: per phrase id, the bucket's (docs, n_matches) —
    the match sets of the tree's ("phrase", j) leaves.  ``scored``:
    [(j, w)] root-level phrases that score, in phrase-id order: each
    adds w·n·(k1+1)/(n+k1) (BM25 saturation of its match count, no
    length norm — the positional layout stores no dl) on top of the
    term score, as score = term_score + (0.0 + c_j0 + c_j1 + …)."""
    empty = pd.DataFrame({"doc_id": pd.Series(dtype="int64"),
                          "score": pd.Series(dtype="float64")})
    if not decoded and not phrase_hits:
        return empty
    cache: dict = {("phrase", j): d for j, (d, _n) in enumerate(phrase_hits)}
    cand = _t_match(tree, decoded, cache)
    if cand.size == 0:
        return empty

    # effective sets top-down: eff(child) = match(child) ∩ eff(parent)
    effs: dict[int, np.ndarray] = {}

    def walk(node, eff):
        if node[0] == "phrase":
            return                  # phrases carry no term instances
        m = cache[node]
        my_eff = m[np.isin(m, eff, assume_unique=True)] \
            if m.size and eff.size else np.empty(0, dtype=np.int64)
        if node[0] == "leaf":
            effs[node[1]] = my_eff
            return
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
    if scored:
        phr = np.zeros(cand.size, dtype=np.float64)
        for j, w in scored:
            d, n = phrase_hits[j]
            hit = np.isin(d, cand, assume_unique=True)
            if hit.any():
                n = n[hit].astype(np.float64)
                phr[np.searchsorted(cand, d[hit])] += \
                    w * n * (k1 + 1.0) / (n + k1)
        scores = scores + phr

    if k is None:
        return pd.DataFrame({"doc_id": cand, "score": scores})
    d, s = _topk_cut(cand, scores, k)
    return pd.DataFrame({"doc_id": d, "score": s})


def _flat_meta(tree, instances, k: int | None):
    """([(term, weight)], avgdl) of a flat disjunction (operators/wand.py;
    block bounds need w >= 0), else None.  In a flat root every instance
    scores every doc holding its term, so its instances are the WAND
    entries."""
    _, must, should, nots, msm = tree
    if (k is None or must or nots or msm > 1 or not instances
            or any(c[0] != "leaf" for c in should)):
        return None
    avgdls = {av for _t, _w, av, _l in instances}
    if len(avgdls) != 1 or any(w < 0 for _t, w, _a, _l in instances):
        return None
    return [(t, w) for t, w, _a, _l in instances], avgdls.pop()


def _bucket_topk(pdf: pd.DataFrame, trees: dict, instances: dict,
                 flat: dict, qterms: dict, k_of: dict, k1: float, b: float,
                 hits=(), scored: dict | None = None) -> pd.DataFrame:
    """Every query of a set against one bucket's postings rows ->
    (qid, doc_id, score), each query's bucket top-k (k None: its whole
    scored match set).  Routing, from the query and the block metadata
    before any decode: a flat disjunction (``flat``: qid -> _flat_meta,
    None for any other tree) of one entry, or sparse here (postings <=
    wand.DENSE_THRESHOLD of their doc span), takes wand._wand_bucket
    through one shared _BlobCache; every other query takes _tree_bucket
    over ONE decode_postings pass of just those queries' terms.
    ``hits`` / ``scored``: phrase match sets and scoring phrases."""
    scored = scored or {}
    meta = {t: (n, lo, hi) for t, n, lo, hi in pdf.groupby("term").agg(
        n=("n", "sum"), lo=("first_doc", "min"), hi=("last_doc", "max"))
        .itertuples()} if any(flat.values()) else {}
    res, exhaustive, cache = {}, [], _BlobCache()
    for qid in trees:
        fm = flat.get(qid)
        if fm is None:
            exhaustive.append(qid)
            continue
        here = [t for t in qterms[qid] if t in meta]
        if not here:
            continue                     # no entry has postings here
        n = sum(meta[t][0] for t in here)
        span = (max(meta[t][2] for t in here)
                - min(meta[t][1] for t in here) + 1)
        if len(fm[0]) > 1 and n > DENSE_THRESHOLD * span:
            exhaustive.append(qid)       # dense: pruning cannot win
        else:
            res[qid] = _wand_bucket(pdf[pdf["term"].isin(here)], fm[0],
                                    k_of[qid], fm[1], k1, b, cache=cache)
    if exhaustive:
        # decode the exhaustive queries' terms in one pass and hand each
        # query frozen views of the shared arrays
        need = set().union(*(qterms[qid] for qid in exhaustive))
        terms, offs, docs, tfs, dls = decode_postings(
            pdf[pdf["term"].isin(need)] if res else pdf)
        tfs, dls = tfs.astype(np.float64), dls.astype(np.float64)
        for a in (docs, tfs, dls):
            a.flags.writeable = False
        dec = {t: (docs[lo:hi], tfs[lo:hi], dls[lo:hi])
               for t, lo, hi in zip(terms, offs[:-1], offs[1:])}
        for qid in exhaustive:
            res[qid] = _tree_bucket(
                {t: dec[t] for t in qterms[qid] if t in dec}, trees[qid],
                instances[qid], k_of[qid], k1, b, hits, scored.get(qid, ()))
    if not res:
        return pd.DataFrame({"qid": pd.Series(dtype="object"),
                             "doc_id": pd.Series(dtype="int64"),
                             "score": pd.Series(dtype="float64")})
    return pd.concat([r.assign(qid=qid) for qid, r in res.items()],
                     ignore_index=True)


def _tree_set(postings: DataFrame, dfs: dict[str, int], n_docs: int,
              avgdl, trees: dict, instances_raw: dict, k: int | None,
              k1: float, b: float, k_map: dict,
              positional: DataFrame | None = None, phrases=(),
              scored: dict | None = None) -> DataFrame:
    """The one serving plan, over a SET of compiled trees -> per-bucket
    (qid, doc_id, score) rows, before any global top-k: idf from the
    resolved ``dfs`` map (leaf terms it lacks are absent from the
    index), one pruned scan, one applyInPandas pass running every tree
    against each bucket (_bucket_topk).  ``k_map`` overrides ``k`` per
    qid (None: no per-bucket cut).

    Phrase leaves: ``phrases`` lists the set's distinct compiled phrase
    specs (positional._compile_phrase output, None for an empty
    analysis) that the trees' ("phrase", j) leaves index, and
    ``scored`` maps qid -> [(j, w)] (see _tree_bucket).  The phrase
    terms' ``positional`` blocks join the leaf terms' posting blocks in
    the SAME grouped pass (one union, one exchange): per bucket each
    phrase term decodes once and each phrase evaluates once for the
    whole set.  This needs every doc's postings and positions in one
    rbucket, which the build, the streaming segments and compact()
    keep.  A set without phrases reads no positional rows."""
    schema = "qid string, doc_id long, score double"
    per_q_terms = {qid: _leaf_terms(t) for qid, t in trees.items()}
    all_terms = set().union(*per_q_terms.values())
    dfs = {t: dfs[t] for t in all_terms if t in dfs}
    instances = {
        qid: sorted(
            (t, boost * bm25_idf(n_docs, dfs[t]),
             avgdl if isinstance(avgdl, float) else avgdl[t], leaf_id)
            for t, boost, leaf_id in raw if t in dfs)
        for qid, raw in instances_raw.items()}
    alive = sorted(dfs)
    pterms = sorted(set().union(*(_spec_terms(sp) for sp in phrases
                                  if sp is not None)))
    if not alive and not pterms:
        return empty_frame(postings.sparkSession, schema)
    qterms = {qid: sorted(t for t in ts if t in dfs)
              for qid, ts in per_q_terms.items()}
    k_of = {qid: k_map.get(qid, k) for qid in trees}
    flat = {qid: _flat_meta(tree, instances[qid], k_of[qid])
            for qid, tree in trees.items()}

    def bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = []
        if pterms:
            is_pos = pdf["pos_blob"].notna()
            flat_pos = _decode_flat(pdf[is_pos])
            pdf = pdf[~is_pos]
            none = (np.empty(0, dtype=np.int64),) * 2
            hits = [_run_phrase(flat_pos, sp) if sp is not None else none
                    for sp in phrases]
        return _bucket_topk(pdf, trees, instances, flat, qterms, k_of, k1,
                            b, hits, scored)

    matched = _filter_terms(postings, alive)
    if pterms:
        cols = ["term", "rbucket", "block_no", "n", "first_doc",
                "last_doc", "doc_blob"]
        matched = matched.select(*cols, "max_tf", "min_dl", "tf_blob",
                                 "dl_blob").unionByName(
            _filter_terms(positional, pterms)
            .select(*cols, "freq_blob", "pos_blob"),
            allowMissingColumns=True)
    return matched.groupBy("rbucket").applyInPandas(bucket, schema=schema)


def _should_tree(entries: list[tuple[str, float]]) -> tuple:
    """The flat SHOULD tree of [(term, weight)] entries -> (tree,
    instances): one leaf per entry, so a repeated term (one fuzzy
    clause per query term) scores once per entry."""
    es = sorted(entries)
    leaves = tuple(("leaf", i, (t,)) for i, (t, _w) in enumerate(es))
    return (("node", (), leaves, (), 1),
            [(t, w, i) for i, (t, w) in enumerate(es)])


def _disjunction_set(postings: DataFrame, dfs: dict[str, int], n_docs: int,
                     avgdl: float, entries: dict, k: int, k1: float = K1,
                     b: float = B) -> DataFrame:
    """_tree_set over ``{qid: [(term, weight), ...]}`` flat disjunctions
    (the search family and the WAND entries)."""
    trees, insts = {}, {}
    for qid, es in entries.items():
        trees[qid], insts[qid] = _should_tree(es)
    return _tree_set(postings, dfs, n_docs, float(avgdl), trees, insts, k,
                     k1, b, {})


def boolean_tree_topk(postings: DataFrame, tstats: DataFrame, n_docs: int,
                      avgdl, tree, instances_raw,
                      k: int | None = 10, k1: float = K1,
                      b: float = B) -> DataFrame:
    """Boolean top-k over a compiled query TREE -> (doc_id, score) — the
    BooleanQuery kernel behind FulltextIndex.query's grouped/boosted/
    fielded path and, as depth-1 trees, behind boolean_topk /
    search_boolean (querycompile.py builds ``tree``).

    ``avgdl``: float (single-field) or {field_prefixed_term -> avgdl};
    ``instances_raw``: [(term, boost_product, leaf_id)] with idf NOT yet
    applied (df lookup happens here, one collect for the whole query).
    ``k=None`` returns the full scored match set.

    Runs boolean_tree_topk_many's kernel as a set of one, finished by a
    global orderBy().limit() — one Spark job fewer than the per-qid
    window."""
    return _tree_one(postings, term_dfs(tstats, _leaf_terms(tree)), n_docs,
                     avgdl, tree, instances_raw, k, k1, b)


def _tree_one(postings: DataFrame, dfs: dict[str, int], n_docs: int, avgdl,
              tree, instances_raw, k: int | None = 10, k1: float = K1,
              b: float = B) -> DataFrame:
    return _top_k(_tree_set(postings, dfs, n_docs, avgdl, {"_": tree},
                            {"_": instances_raw}, k, k1, b, {})
                  .drop("qid"), k)


def _top_k(local: DataFrame, k: int | None) -> DataFrame:
    """The global top-k of one query's per-bucket rows."""
    if k is None:
        return local
    return local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _top_k_per_qid(local: DataFrame, k: int) -> DataFrame:
    """The per-qid top-k window over a query set's per-bucket rows."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return local.withColumn("_r", F.row_number().over(w)) \
        .filter(F.col("_r") <= k).drop("_r")


def boolean_tree_topk_many(postings: DataFrame, tstats: DataFrame,
                           n_docs: int, avgdl, trees: dict,
                           instances_raw: dict, k: int = 10,
                           k1: float = K1, b: float = B) -> DataFrame:
    """Evaluate a whole SET of compiled query trees -> (qid, doc_id,
    score) — the serving shape (wand_topk_many's role for the grouped/
    boosted/fielded query path): matched terms unioned into one pruned
    scan, ONE applyInPandas pass runs every query against each bucket,
    one global per-qid top-k window (three Spark jobs: the bucket
    exchange, the kernel, the window).  Results are bit-identical to
    per-query ``boolean_tree_topk``.

    ``trees``: {qid: tree}; ``instances_raw``: {qid: [(term, boost,
    leaf_id)]}; ``avgdl``: float or {term: avgdl} (multi-field)."""
    terms = set().union(*map(_leaf_terms, trees.values()))
    return _top_k_per_qid(_tree_set(postings, term_dfs(tstats, terms),
                                    n_docs, avgdl, trees, instances_raw,
                                    k, k1, b, {}), k)


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
    tree, instances = _flat_tree(must, should, must_not, msm)
    return boolean_tree_topk(postings, tstats, n_docs, float(avgdl), tree,
                             instances, k, k1, b)


def _flat_tree(must, should, must_not, msm: int) -> tuple:
    """boolean_topk's depth-1 (tree, instances), overlap-normalized."""
    must_s = sorted(set(must or []))
    should_s = sorted(set(should or []) - set(must_s))
    not_s = sorted(set(must_not or []))
    leaves = [("leaf", i, (t,))
              for i, t in enumerate(must_s + should_s + not_s)]
    nm, ns = len(must_s), len(should_s)
    tree = ("node", tuple(leaves[:nm]), tuple(leaves[nm:nm + ns]),
            tuple(leaves[nm + ns:]), msm if must_s else max(msm, 1))
    return tree, [(t, 1.0, i) for i, t in enumerate(must_s + should_s)]
