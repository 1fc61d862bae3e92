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
postings: one pruned scan, one per-bucket closure that evaluates every
compiled query tree of a query SET and each query's bucket top-k, and a
global top-k per query.  A set below DRIVER_POSTINGS_CAP postings runs
the closure on the driver over one JVM-only collect of its block rows
(a Python worker task costs more than such a set's kernel work); a
larger set runs it in one ``groupBy("rbucket").applyInPandas`` pass
with a Spark top-k finish.  Flat boolean queries (boolean_topk) are
depth-1 trees; search, search_many and the WAND entries are flat SHOULD
trees (_disjunction_set).  Phrase clauses of FulltextIndex.query are
leaves of the same trees (Lucene's PhraseScorer beside the term
scorers): the phrase terms' positional blocks ride in the same scan,
and per bucket each distinct phrase is evaluated once by the positional
kernels (operators/positional.py::_run_phrase).  Per-bucket work is
bounded by the build partition size; nothing is all-pairs.

Per bucket, every query of a set takes one path (``_bucket_topk``):
block metadata prunes its rows, the one decoder
(postings.decode_postings) decodes what survives, and the tree kernel
scores it.  A query with a finite k, no negative weight and no phrase
leaf prunes with a vectorized window-at-a-time MaxScore filter
(``_query_topk``, Lucene's MaxScoreBulkScorer), whichever parser built
it and whatever its shape; every other query keeps all its rows.  The
kernel (``_tree_bucket``) works on matching sets — conjunctions/counts
via ``np.unique``, exclusions via ``np.isin`` — with no per-doc Python.

Float contract: per-doc scores accumulate clause contributions in
instance order — term, then weight (the same rule as the exhaustive
scorer) — then add the scoring phrases' sum in phrase order, so results
are bit-identical at any parallelism and whatever a bucket prunes.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .fulltext import B, K1, empty_frame, idf as bm25_idf
from .positional import _decode_flat, _run_phrase, _spec_terms
from .postings import (_filter_terms, _term_doc_order, _topk_cut,
                       decode_postings, term_dfs)

# below this many postings (the Σ df of a query set's leaf and phrase
# terms) _tree_set scores the set on the driver: it skips the Python
# worker tasks a grouped pass launches, and its block rows take a few MB
# there.  On 4 cores, 8-21 rbuckets, every set measured below 600k
# postings ran faster on the driver and every set above 750k faster
# grouped (the driver scores rbuckets one after another)
DRIVER_POSTINGS_CAP = 500_000


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
                 b: float, phrase_hits=(), scored=()) -> tuple:
    """Evaluate a compiled query TREE inside one doc-range bucket ->
    (doc_ids, scores), the top k by (score desc, doc asc), or the whole
    scored match set for k None.

    ``decoded``: {term: (docs, tfs, dls)} for the tree's terms in this
    bucket (frozen arrays of the bucket's shared decode, _Blocks).
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
    empty = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
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

    return (cand, scores) if k is None else _topk_cut(cand, scores, k)


def _frozen(a: np.ndarray) -> np.ndarray:
    a.flags.writeable = False
    return a


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """The concatenated ``arange(s, s + n)`` of each (start, len)."""
    return np.repeat(starts - np.cumsum(lens) + lens, lens) + \
        np.arange(lens.sum())


class _Blocks:
    """One bucket's posting block rows, sorted once per query set by
    (term, first_doc) — a term's blocks are doc-disjoint, so that is its
    doc order — and the rows decoded so far, into frozen arrays: a row
    decodes at most once, whichever queries of the set need it."""

    _BLOBS = ("term", "block_no", "first_doc", "doc_blob", "tf_blob",
              "dl_blob")

    def __init__(self, pdf: pd.DataFrame):
        self.cols = cols = _term_doc_order(
            pdf, self._BLOBS + ("last_doc", "max_tf", "min_dl", "n"))
        term = cols["term"]
        lo = np.flatnonzero(np.append(True, term[1:] != term[:-1])) \
            if term.size else np.empty(0, dtype=np.int64)
        self.span = dict(zip(term[lo].tolist(),
                             zip(lo.tolist(), lo[1:].tolist() + [term.size])))
        self.first = cols["first_doc"].astype(np.int64)
        self.last = cols["last_doc"].astype(np.int64)
        self.max_tf = cols["max_tf"].astype(np.float64)
        self.min_dl = cols["min_dl"].astype(np.float64)
        self.n = cols["n"].astype(np.int64)
        self.at = np.full(term.size, -1, dtype=np.int64)
        self.docs = np.empty(0, dtype=np.int64)
        self.tfs = self.dls = np.empty(0, dtype=np.float64)

    def decode(self, rows: np.ndarray) -> None:
        """Decode the not yet decoded of the sorted unique ``rows`` in
        one decode_postings call."""
        rows = rows[self.at[rows] < 0]
        if not rows.size:
            return
        _t, _o, docs, tfs, dls = decode_postings(
            {c: self.cols[c][rows] for c in self._BLOBS})
        n = self.n[rows]
        self.at[rows] = self.docs.size + np.cumsum(n) - n
        self.docs = _frozen(np.concatenate((self.docs, docs)))
        self.tfs = _frozen(np.concatenate((self.tfs, tfs.astype(np.float64))))
        self.dls = _frozen(np.concatenate((self.dls, dls.astype(np.float64))))

    def gather(self, rows: np.ndarray) -> tuple:
        """(docs, tfs, dls) of decoded ``rows``, in row order."""
        idx = _ranges(self.at[rows], self.n[rows])
        return tuple(_frozen(a[idx]) for a in (self.docs, self.tfs, self.dls))

    def by_term(self, rows: np.ndarray, col: np.ndarray, terms: list,
              docs: np.ndarray | None = None) -> dict:
        """{term: (docs, tfs, dls)} of decoded ``rows`` (ascending, term
        ``terms[col[i]]`` owning ``rows[i]``), kept to the sorted unique
        ``docs`` when given."""
        arrs = self.gather(rows)
        c = np.repeat(col, self.n[rows])
        if docs is not None:
            d = arrs[0]
            hit = docs[np.minimum(np.searchsorted(docs, d),
                                  docs.size - 1)] == d
            arrs, c = tuple(_frozen(a[hit]) for a in arrs), c[hit]
        offs = np.searchsorted(c, np.arange(len(terms) + 1))
        return {t: tuple(a[lo:hi] for a in arrs)
                for t, lo, hi in zip(terms, offs[:-1], offs[1:]) if hi > lo}


def _has_phrase(node) -> bool:
    return node[0] == "phrase" or node[0] == "node" and any(
        _has_phrase(c) for c in node[1] + node[2] + node[3])


def _query_topk(bk: _Blocks, tree, inst, terms, k: int | None, k1: float,
                b: float, hits, scored):
    """One query's top k in one bucket, as a generator: it yields the
    rows it needs decoded, which the caller decodes for the whole set
    at once, and returns its (doc_ids, scores).

    A query with a finite k, no negative weight and no phrase leaf
    prunes with block metadata only, in two MaxScore rounds (Lucene's
    MaxScoreBulkScorer, one vectorized pass per round instead of a
    per-doc cursor).  Only its scoring terms (those with an instance)
    take part: a doc matching the tree holds one, and a NOT term bounds
    nothing.  A block's bound for instance (t, w, avgdl) is the scorer's
    own expression at (max_tf, min_dl); BM25 grows with tf and falls
    with dl, so it bounds every doc of the block, and a bound summed in
    instance order bounds a doc's score summed the same way.  Round 1
    scores the docs of each scoring term's highest-bound block exactly;
    θ is the k-th best.  Round 2 cuts the bucket into elementary windows
    at every block boundary of the scoring terms and drops each window
    whose bound is strictly below θ (a doc scoring θ with a smaller id
    still enters the top k).  In a kept window the lowest-bound terms
    whose bounds sum below θ are non-essential: a doc holding only
    those cannot reach θ.  The candidates are the docs of the essential
    terms' blocks, past round 1's docs; they score exactly and merge
    with round 1's top k.  Every other query, and one whose windows x
    instances grid would outgrow the postings of its rows, decodes its
    terms' rows and scores them in one _tree_bucket call.

    Scoring a doc set reads every leaf term's rows whose doc range
    holds one of the docs: a doc's score reads its own postings only,
    so it is then exactly its score over the whole bucket."""
    terms = [t for t in terms if t in bk.span]
    lo = np.array([bk.span[t][0] for t in terms], dtype=np.int64)
    lens = np.array([bk.span[t][1] for t in terms], dtype=np.int64) - lo
    rows = _ranges(lo, lens)                  # the query's rows, ascending
    col = np.repeat(np.arange(len(terms)), lens)         # each row's term
    pi = [x for x in inst if x[0] in bk.span]
    tix = {t: i for i, t in enumerate(terms)}
    ic = np.array([tix[x[0]] for x in pi], dtype=np.int64)
    sc = np.unique(ic)                          # the scoring terms' columns
    slen = lens[sc]
    sr = rows[_ranges((np.cumsum(lens) - lens)[sc], slen)]  # their rows
    ends = np.concatenate((bk.first[sr], bk.last[sr] + 1))
    p = np.unique(ends)[:-1]              # window j: docs [p[j], p[j + 1])
    if (not pi or k is None or _has_phrase(tree)
            or any(w < 0 for _t, w, _a, _l in pi)
            or p.size * len(pi) > bk.n[rows].sum()):
        if terms:
            yield rows
        return _tree_bucket(bk.by_term(rows, col, terms), tree, inst, k, k1,
                            b, hits, scored)

    # per instance i, the bound of each scoring row: ib[i, r] for sr[r]
    # (0 on other terms' rows, and in the extra last column)
    n_i, n_s = len(pi), sr.size
    si = np.searchsorted(sc, ic)              # each instance's scoring term
    at = _ranges((np.cumsum(slen) - slen)[si], slen[si])
    i_of = np.repeat(np.arange(n_i), slen[si])
    w, av = (np.array([x[j] for x in pi])[i_of] for j in (1, 2))
    mt, md = bk.max_tf[sr[at]], bk.min_dl[sr[at]]
    ib = np.zeros((n_i, n_s + 1))
    ib[i_of, at] = w * (mt * (k1 + 1.0)) / (mt + k1 * (1.0 - b + b * md / av))
    scol = np.repeat(np.arange(sc.size), slen)   # each scoring row's term

    def score(docs):
        # the query's rows whose doc range holds one of the docs
        hold = (np.searchsorted(docs, bk.first[rows], side="left")
                < np.searchsorted(docs, bk.last[rows], side="right"))
        yield rows[hold]
        return _tree_bucket(bk.by_term(rows[hold], col[hold], terms, docs),
                            tree, inst, k, k1, b)

    # round 1: θ from the docs of each scoring term's best block
    best = np.lexsort((-ib[:, :-1].sum(axis=0), scol))
    top = sr[best[np.append(True, scol[best][1:] != scol[best][:-1])]]
    yield top
    docs1 = np.unique(bk.gather(top)[0])
    d1, s1 = yield from score(docs1)
    theta = s1[-1] if s1.size >= k > 0 else -np.inf

    # round 2: cov[j, c] = the scoring row of term c covering window j,
    # n_s in a gap
    wlo, whi = np.searchsorted(p, ends[:n_s]), np.searchsorted(p, ends[n_s:])
    cov = np.full((p.size, sc.size), n_s)
    cov[_ranges(wlo, whi - wlo), np.repeat(scol, whi - wlo)] = \
        np.repeat(np.arange(n_s), whi - wlo)
    iw = ib[np.arange(n_i), cov[:, si]]          # windows x instances
    bound = np.cumsum(iw, axis=1)[:, -1]         # in instance order
    tw = np.zeros((p.size, sc.size))
    np.add.at(tw.T, si, iw.T)                    # windows x terms
    order = np.argsort(tw, axis=1, kind="stable")
    low = np.cumsum(np.take_along_axis(tw, order, 1), axis=1) < theta
    non_ess = np.empty_like(low)
    np.put_along_axis(non_ess, order, low, 1)
    # float sums depend on their order: the non-essential bounds summed
    # in instance order must stay below θ too
    u = np.cumsum(np.where(non_ess[:, si], iw, 0.0), axis=1)[:, -1]
    non_ess[~(u < theta)] = False
    ess = ~(bound < theta)[:, None] & ~non_ess & (cov < n_s)
    pos = np.unique(cov[ess])
    yield sr[pos]
    cand = np.empty(0, dtype=np.int64)
    if pos.size:
        d = bk.gather(sr[pos])[0]
        c = np.repeat(scol[pos], bk.n[sr[pos]])
        cand = np.setdiff1d(
            d[ess[np.searchsorted(p, d, side="right") - 1, c]], docs1)
    if cand.size:
        d2, s2 = yield from score(cand)
        d1, s1 = _topk_cut(np.concatenate((d1, d2)),
                           np.concatenate((s1, s2)), k)
    return d1, s1


def _bucket_topk(pdf: pd.DataFrame, trees: dict, instances: dict,
                 qterms: dict, k_of: dict, k1: float, b: float,
                 hits=(), scored: dict | None = None) -> pd.DataFrame:
    """Every query of a set against one bucket's postings rows ->
    (qid, doc_id, score), each query's bucket top-k (k None: its whole
    scored match set), through _query_topk.  The queries advance step
    by step, and each step decodes the union of the rows they still
    need in one decode_postings call: a row decodes at most once per
    bucket, in a handful of calls whatever the set's size.
    ``hits`` / ``scored``: phrase match sets and scoring phrases."""
    scored = scored or {}
    bk = _Blocks(pdf)
    runs = {qid: _query_topk(bk, trees[qid], instances[qid], qterms[qid],
                             k_of[qid], k1, b, hits, scored.get(qid, ()))
            for qid in trees}
    res = {}
    while runs:
        asks = []
        for qid in list(runs):
            try:
                asks.append(next(runs[qid]))
            except StopIteration as done:
                res[qid] = done.value
                del runs[qid]
        if asks:
            bk.decode(np.unique(np.concatenate(asks)))
    out = list(res.values()) + [(np.empty(0, dtype=np.int64), np.empty(0))]
    return pd.DataFrame({
        "qid": np.repeat(np.array(list(res), dtype=object),
                         [d.size for d, _s in res.values()]),
        "doc_id": np.concatenate([d for d, _s in out]),
        "score": np.concatenate([s for _d, s in out])})


def _tree_set(postings: DataFrame, dfs: dict[str, int], n_docs: int,
              avgdl, trees: dict, instances_raw: dict, k: int | None,
              k1: float, b: float, excluded: dict | None = None,
              positional: DataFrame | None = None, phrases=(),
              scored: dict | None = None) -> DataFrame:
    """The one serving plan, over a SET of compiled trees -> (qid,
    doc_id, score), each query's global top k by (score desc, doc asc)
    (k None: its whole scored match set): idf from the resolved ``dfs``
    map (leaf terms it lacks are absent from the index), one pruned
    scan, and every tree run against each bucket through the one
    per-bucket path (_bucket_topk: block-metadata pruning, shared
    decode, tree kernel).  ``excluded`` maps qid -> a (doc_id) frame
    anti-joined from that query's rows (an OversizedExpansion under a
    root NOT); such a query takes no per-bucket cut, so no pruning.

    Where the set runs: below DRIVER_POSTINGS_CAP postings (Σ df of its
    leaf and phrase terms) and without ``excluded``, on the driver —
    one JVM-only job collects the pruned scan, the same per-bucket
    closure runs once per rbucket, and the answer is a local relation
    whose collect() runs no job.  It is computed here, when the plan is
    built, not at collect().  Any other set runs the closure in one
    ``groupBy("rbucket").applyInPandas`` pass, finished by a per-qid
    window.

    Phrase leaves: ``phrases`` lists the set's distinct compiled phrase
    specs (positional._compile_phrase output, None for an empty
    analysis) that the trees' ("phrase", j) leaves index, and
    ``scored`` maps qid -> [(j, w)] (see _tree_bucket).  The phrase
    terms' ``positional`` blocks join the leaf terms' posting blocks in
    the SAME scan (one union): per bucket each phrase term decodes once
    and each phrase evaluates once for the whole set.  This needs every
    doc's postings and positions in one rbucket, which the build, the
    streaming segments and compact() keep.  A set without phrases reads
    no positional rows."""
    schema = "qid string, doc_id long, score double"
    excluded = excluded or {}
    per_q_terms = {qid: _leaf_terms(t) for qid, t in trees.items()}
    all_terms = set().union(*per_q_terms.values())
    pterms = sorted(set().union(*(_spec_terms(sp) for sp in phrases
                                  if sp is not None)))
    size = sum(dfs.get(t, 0) for t in all_terms.union(pterms))
    dfs = {t: dfs[t] for t in all_terms if t in dfs}
    instances = {
        qid: sorted(
            (t, boost * bm25_idf(n_docs, dfs[t]),
             avgdl if isinstance(avgdl, float) else avgdl[t], leaf_id)
            for t, boost, leaf_id in raw if t in dfs)
        for qid, raw in instances_raw.items()}
    alive = sorted(dfs)
    spark = postings.sparkSession
    if not alive and not pterms:
        return empty_frame(spark, schema)
    qterms = {qid: sorted(t for t in ts if t in dfs)
              for qid, ts in per_q_terms.items()}
    k_of = {qid: None if qid in excluded else k for qid in trees}

    def bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        hits = []
        if pterms:
            is_pos = pdf["pos_blob"].notna()
            flat_pos = _decode_flat(pdf[is_pos])
            pdf = pdf[~is_pos]
            none = (np.empty(0, dtype=np.int64),) * 2
            hits = [_run_phrase(flat_pos, sp) if sp is not None else none
                    for sp in phrases]
        return _bucket_topk(pdf, trees, instances, qterms, k_of, k1, b,
                            hits, scored)

    matched = _filter_terms(postings, alive)
    if pterms:
        cols = ["term", "rbucket", "block_no", "n", "first_doc",
                "last_doc", "doc_blob"]
        matched = matched.select(*cols, "max_tf", "min_dl", "tf_blob",
                                 "dl_blob").unionByName(
            _filter_terms(positional, pterms)
            .select(*cols, "freq_blob", "pos_blob"),
            allowMissingColumns=True)
    if size < DRIVER_POSTINGS_CAP and not excluded:
        rows = matched.toPandas()
        return _driver_top_k(
            spark, [bucket(g) for _rb, g in rows.groupby("rbucket")], k,
            schema)
    local = matched.groupBy("rbucket").applyInPandas(bucket, schema=schema)
    if excluded:
        local = local.join(reduce(DataFrame.union, (
            d.select(F.lit(qid).alias("qid"), "doc_id")
            for qid, d in excluded.items())), ["qid", "doc_id"], "left_anti")
    if k is None:
        return local
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return local.withColumn("_r", F.row_number().over(w)) \
        .filter(F.col("_r") <= k).drop("_r")


def _driver_top_k(spark, parts: list[pd.DataFrame], k: int | None,
                  schema: str) -> DataFrame:
    """Each query's global top k (k None: all its rows) of a set's
    per-bucket (qid, doc_id, score) frames, cut and ordered on the
    driver by (score desc, doc asc) -> a local relation."""
    rows = pd.concat(parts, ignore_index=True) if parts else None
    cut = [] if rows is None else [
        (qid, *_topk_cut(g["doc_id"].to_numpy(), g["score"].to_numpy(),
                         len(g) if k is None else k))
        for qid, g in rows.groupby("qid")]
    n = [d.size for _q, d, _s in cut]
    if not sum(n):
        return empty_frame(spark, schema)
    return spark.createDataFrame(pd.DataFrame({
        "qid": np.repeat(np.array([q for q, _d, _s in cut], dtype=object), n),
        "doc_id": np.concatenate([d for _q, d, _s in cut]),
        "score": np.concatenate([s for _q, _d, s in cut])}), schema)


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
                     k1, b)


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

    Runs boolean_tree_topk_many's plan (_tree_set) as a set of one."""
    return _tree_one(postings, term_dfs(tstats, _leaf_terms(tree)), n_docs,
                     avgdl, tree, instances_raw, k, k1, b)


def _tree_one(postings: DataFrame, dfs: dict[str, int], n_docs: int, avgdl,
              tree, instances_raw, k: int | None = 10, k1: float = K1,
              b: float = B) -> DataFrame:
    return _tree_set(postings, dfs, n_docs, avgdl, {"_": tree},
                     {"_": instances_raw}, k, k1, b).drop("qid")


def boolean_tree_topk_many(postings: DataFrame, tstats: DataFrame,
                           n_docs: int, avgdl, trees: dict,
                           instances_raw: dict, k: int = 10,
                           k1: float = K1, b: float = B) -> DataFrame:
    """Evaluate a whole SET of compiled query trees -> (qid, doc_id,
    score) — the serving shape (wand_topk_many's role for the grouped/
    boosted/fielded query path): matched terms unioned into one pruned
    scan, every query run against each bucket, each query's global top
    k (_tree_set: on the driver below DRIVER_POSTINGS_CAP, else one
    grouped pass and a per-qid window).  Results are bit-identical to
    per-query ``boolean_tree_topk``.

    ``trees``: {qid: tree}; ``instances_raw``: {qid: [(term, boost,
    leaf_id)]}; ``avgdl``: float or {term: avgdl} (multi-field)."""
    terms = set().union(*map(_leaf_terms, trees.values()))
    return _tree_set(postings, term_dfs(tstats, terms), n_docs, avgdl,
                     trees, instances_raw, k, k1, b)


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
