"""Block-max WAND top-k over the posting blocks (SURVEY.md §2-C).

Distribution model: posting blocks live in contiguous doc-range buckets
(``rbucket``, operators/postings.py), so query evaluation groups the
matched terms' blocks by rbucket — every bucket holds all query terms'
postings for one doc-id range — runs document-at-a-time WAND with
block-max skipping inside the bucket (applyInPandas), and the per-bucket
top-k candidates meet in a global TakeOrderedAndProject
(orderBy(score desc, doc_id asc).limit(k)).  Each bucket's work is bounded
by the build partition size regardless of term df, so heavy terms cannot
create a straggler task.

Block upper bounds use the stored (max_tf, min_dl): BM25 impact is
monotone ↑ in tf and ↓ in dl, so idf·(k1+1)·max_tf/(max_tf +
k1(1−b+b·min_dl/avgdl)) bounds every doc in the block (see postings.py on
why the build stores these instead of a precomputed impact).

Float contract: per-doc scores sum contributions in term-lexicographic
order, mirroring the exhaustive scorer's sort_array + aggregate —
bit-identical results at any parallelism.

Catalyst cannot express document-at-a-time pruning (SURVEY §4), hence the
pandas kernel; everything around it (pruned scan on term, grouping,
global top-k) is declarative.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..analysis import analyze
from ..functions.codec import delta_decode, vbyte_decode
from .fulltext import B, K1, idf as bm25_idf

_EXHAUSTED = 1 << 62

# term-set predicates switch from an isin literal (pushed into the parquet
# scan) to a broadcast semi-join past this size: a 10^4-term IN-list bloats
# the plan/task binaries and stops being pushable, while a broadcast hash
# semi-join stays O(set) per task — the serving path for large batched
# query sets (and prefix expansions) over a 10^9-term vocabulary
_ISIN_MAX = 512


def _filter_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    if len(terms) <= _ISIN_MAX:
        return df.filter(F.col("term").isin(list(terms)))
    tdf = df.sparkSession.createDataFrame(
        [(t,) for t in terms], "term string")
    return df.join(F.broadcast(tdf), "term", "left_semi")


class _BlobCache:
    """Per-kernel-invocation memo of the pure blob decodes (r6).

    In batched serving one bucket evaluates EVERY query of the set, and
    a term shared by many queries had its blocks VByte-decoded once per
    query — measured 4.5 s -> 1.5 s for the 100-query batch kernel at
    sf1.0 with this memo.  Scope is one bucket() invocation (created in
    _wand_set's applyInPandas fn, or per _wand_bucket call), so no
    state outlives a task and memory is bounded by the bucket's own
    blob set.  Cached arrays are frozen (writeable=False); every
    consumer copies via .astype(...) exactly as the uncached path did,
    so results are bit-identical by construction."""

    __slots__ = ("_docs", "_vals")

    def __init__(self):
        self._docs: dict = {}
        self._vals: dict = {}

    def docs(self, blob) -> np.ndarray:
        """Absolute doc ids of one doc_blob (delta+VByte decoded)."""
        r = self._docs.get(blob)
        if r is None:
            r = delta_decode(vbyte_decode(blob))
            r.flags.writeable = False
            self._docs[blob] = r
        return r

    def vals(self, blob) -> np.ndarray:
        """Raw VByte values of one tf/dl blob."""
        r = self._vals.get(blob)
        if r is None:
            r = vbyte_decode(blob)
            r.flags.writeable = False
            self._vals[blob] = r
        return r


class _TermCursor:
    """Doc-ordered cursor over one term's block rows (decode-on-demand)."""

    __slots__ = ("idf", "ub", "first", "last", "max_tf", "min_dl", "blobs",
                 "tf_blobs", "dl_blobs", "bi", "wi", "docs", "tfs", "dls",
                 "cur", "k1", "b", "avgdl", "_bb", "_ub_suffix", "_cache")

    def __init__(self, idf: float, rows: pd.DataFrame, avgdl: float,
                 k1: float, b: float, cache: "_BlobCache | None" = None):
        self._cache = cache if cache is not None else _BlobCache()
        # blocks of one term are doc-disjoint by construction (source
        # partitions/chunks cover disjoint doc ranges), so first_doc IS
        # the global doc order — robust even when two index chunks reuse
        # the same rbucket numbering (chunked/resumed builds)
        rows = rows.sort_values("first_doc")
        self.idf = idf
        self.first = rows["first_doc"].to_numpy()
        self.last = rows["last_doc"].to_numpy()
        self.max_tf = rows["max_tf"].to_numpy().astype(np.float64)
        self.min_dl = rows["min_dl"].to_numpy().astype(np.float64)
        self.blobs = rows["doc_blob"].tolist()
        self.tf_blobs = rows["tf_blob"].tolist()
        self.dl_blobs = rows["dl_blob"].tolist()
        self.k1, self.b, self.avgdl = k1, b, avgdl
        # per-block upper bounds: idf·(k1+1)·impact(max_tf, min_dl)
        self._bb = (idf * (k1 + 1.0) * self.max_tf
                    / (self.max_tf + k1 * (1.0 - b + b * self.min_dl / avgdl)))
        # suffix max of the per-block bounds: ub tightens to "max over
        # blocks not yet passed" as the cursor advances (sharper pivots on
        # mid-frequency terms whose hottest block sits early) — still a
        # valid bound for every doc >= cur, so results stay bit-identical
        self._ub_suffix = (np.maximum.accumulate(self._bb[::-1])[::-1]
                           if len(rows) else self._bb)
        self.ub = float(self._ub_suffix[0]) if len(rows) else 0.0
        self.bi = -1
        self.docs = self.tfs = self.dls = None
        self.wi = 0
        self.cur = -1
        self._next_block()

    def _load(self, bi: int) -> None:
        self.bi = bi
        self.ub = float(self._ub_suffix[bi])
        self.docs = self._cache.docs(self.blobs[bi]).astype(np.int64)
        self.tfs = self._cache.vals(self.tf_blobs[bi]).astype(np.float64)
        self.dls = self._cache.vals(self.dl_blobs[bi]).astype(np.float64)
        self.wi = 0
        self.cur = int(self.docs[0])

    def _set_block_lazy(self, bi: int) -> None:
        """Position at a block's first doc WITHOUT decoding its blobs —
        (first_doc, last_doc, block bound) metadata is enough for pivot
        selection and block-max skipping; the VByte decode happens only
        if a doc inside the block is actually evaluated (two-level skip:
        metadata level vs decoded level)."""
        self.bi = bi
        self.ub = float(self._ub_suffix[bi])
        self.docs = self.tfs = self.dls = None
        self.wi = 0
        self.cur = int(self.first[bi])

    def _ensure_loaded(self) -> None:
        if self.docs is None:
            bi = self.bi
            self.docs = self._cache.docs(self.blobs[bi]).astype(np.int64)
            self.tfs = self._cache.vals(self.tf_blobs[bi]).astype(np.float64)
            self.dls = self._cache.vals(self.dl_blobs[bi]).astype(np.float64)
            # lazily positioned cursors always sit at the block start
            # (wi == 0, cur == first_doc == docs[0])

    def _next_block(self) -> None:
        if self.bi + 1 < len(self.blobs):
            self._set_block_lazy(self.bi + 1)
        else:
            self.cur = _EXHAUSTED

    def block_max_score(self) -> float:
        """Upper bound of the CURRENT block (block-max refinement)."""
        if self.bi < len(self._bb):
            return float(self._bb[self.bi])
        return 0.0

    def block_last(self) -> int:
        return int(self.last[self.bi]) if self.bi < len(self.last) else _EXHAUSTED

    def advance_to(self, target: int) -> None:
        """Skip to the first doc >= target, hopping whole blocks via
        (first_doc, last_doc) metadata without decoding."""
        if self.cur >= target:
            return
        if self.bi < len(self.last) and int(self.last[self.bi]) < target:
            nb = int(np.searchsorted(self.last, target, side="left"))
            if nb >= len(self.blobs):
                self.cur = _EXHAUSTED
                return
            if int(self.first[nb]) >= target:
                # lands on/before the block's first doc: metadata is
                # enough — skip the decode entirely
                self._set_block_lazy(nb)
                return
            self._load(nb)
        else:
            self._ensure_loaded()
        self.wi = int(np.searchsorted(self.docs, target, side="left"))
        if self.wi >= self.docs.size:
            self._next_block()
            if self.cur < target:
                self.advance_to(target)
        else:
            self.cur = int(self.docs[self.wi])

    def score_current(self) -> float:
        self._ensure_loaded()
        tf = self.tfs[self.wi]
        dl = self.dls[self.wi]
        return (self.idf * (tf * (self.k1 + 1.0))
                / (tf + self.k1 * (1.0 - self.b + self.b * dl / self.avgdl)))

    def step(self) -> None:
        self._ensure_loaded()
        self.wi += 1
        if self.wi >= self.docs.size:
            self._next_block()
        else:
            self.cur = int(self.docs[self.wi])


def _score_bucket_vectorized(pdf: pd.DataFrame,
                             term_meta: list[tuple[str, float]], k: int,
                             avgdl: float, k1: float, b: float,
                             cache: "_BlobCache | None" = None) -> pd.DataFrame:
    """Exhaustive NumPy scoring of one bucket — the ADAPTIVE fallback for
    queries whose terms are near-ubiquitous: when block-max bounds cannot
    prune (flat scores), document-at-a-time cursor stepping is pure
    overhead, while decoding every block into one vectorized accumulation
    is memory-bandwidth fast.  Float contract preserved: docs accumulate
    their terms in term order (terms iterate outermost), so results stay
    bit-identical to WAND/exhaustive."""
    cache = cache if cache is not None else _BlobCache()
    min_doc = int(pdf["first_doc"].min())
    max_doc = int(pdf["last_doc"].max())
    scores = np.zeros(max_doc - min_doc + 1, dtype=np.float64)
    touched = np.zeros(scores.size, dtype=bool)
    for term, idf in term_meta:  # term order == float contract
        rows = pdf[pdf["term"] == term]
        if not len(rows):
            continue
        rows = rows.sort_values("first_doc")
        docs = np.concatenate([
            cache.docs(bl).astype(np.int64)
            for bl in rows["doc_blob"]])
        tfs = np.concatenate([cache.vals(bl) for bl in rows["tf_blob"]]) \
            .astype(np.float64)
        dls = np.concatenate([cache.vals(bl) for bl in rows["dl_blob"]]) \
            .astype(np.float64)
        idx = docs - min_doc
        contrib = (idf * (tfs * (k1 + 1.0))
                   / (tfs + k1 * (1.0 - b + b * dls / avgdl)))
        scores[idx] += contrib  # each doc appears once per term
        touched[idx] = True
    hit = np.flatnonzero(touched)
    if hit.size == 0:
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"})
    s = scores[hit]
    if hit.size > k:
        # tie-correct top-k: argpartition alone picks ARBITRARY members
        # of a tie group at the k boundary — include every doc scoring
        # >= the k-th best, then order by (score desc, doc asc) and cut
        kth = -np.partition(-s, k - 1)[k - 1]
        cand = np.flatnonzero(s >= kth)
        order = cand[np.lexsort((hit[cand], -s[cand]))][:k]
    else:
        order = np.lexsort((hit, -s))
    return pd.DataFrame({"doc_id": (hit[order] + min_doc).astype(np.int64),
                         "score": s[order]})


def _topk_cut(docs: np.ndarray, scores: np.ndarray,
              k: int) -> tuple[np.ndarray, np.ndarray]:
    """Tie-correct top-k by (score desc, doc asc), returned sorted.
    argpartition alone picks ARBITRARY members of a tie group at the k
    boundary — include every doc scoring >= the k-th best, then order
    and cut (same scheme as _score_bucket_vectorized)."""
    if docs.size > k:
        kth = -np.partition(-scores, k - 1)[k - 1]
        cand = np.flatnonzero(scores >= kth)
        order = cand[np.lexsort((docs[cand], -scores[cand]))][:k]
    else:
        order = np.lexsort((docs, -scores))
    return docs[order], scores[order]


def _single_term_topk(pdf: pd.DataFrame, idf: float, k: int, avgdl: float,
                      k1: float, b: float,
                      cache: "_BlobCache | None" = None) -> pd.DataFrame:
    """Impact-ordered top-k for ONE term: blocks scanned in upper-bound
    DESCENDING order, stopping when the next block's bound is strictly
    below theta (the k-th best so far).  Exact, incl. ties: a block whose
    bound EQUALS theta may still hold a tying doc with a smaller doc_id
    (tie-break is doc asc), so only a strict < terminates.  Scores use
    the same float64 expression as every other kernel — bit-identical.
    Whole blocks score in one NumPy expression and merge via the
    tie-correct top-k cut — no per-posting Python loop in the serving
    path (VERDICT r1 item 5).
    """
    cache = cache if cache is not None else _BlobCache()
    max_tf = pdf["max_tf"].to_numpy().astype(np.float64)
    min_dl = pdf["min_dl"].to_numpy().astype(np.float64)
    bounds = (idf * (k1 + 1.0) * max_tf
              / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl)))
    order = np.argsort(-bounds, kind="stable")
    doc_blobs = pdf["doc_blob"].to_numpy()
    tf_blobs = pdf["tf_blob"].to_numpy()
    dl_blobs = pdf["dl_blob"].to_numpy()
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = float("-inf")
    for bi in order:
        if top_docs.size >= k and bounds[bi] < theta:
            break  # every later block bounds strictly below the k-th best
        docs = cache.docs(doc_blobs[bi]).astype(np.int64)
        tfs = cache.vals(tf_blobs[bi]).astype(np.float64)
        dls = cache.vals(dl_blobs[bi]).astype(np.float64)
        scores = (idf * (tfs * (k1 + 1.0))
                  / (tfs + k1 * (1.0 - b + b * dls / avgdl)))
        top_docs, top_scores = _topk_cut(np.concatenate((top_docs, docs)),
                                         np.concatenate((top_scores, scores)),
                                         k)
        if top_docs.size >= k:
            theta = float(top_scores[-1])
    return pd.DataFrame({"doc_id": top_docs, "score": top_scores})


def _wand_bucket(pdf: pd.DataFrame, term_meta: list[tuple[str, float]],
                 k: int, avgdl: float, k1: float, b: float,
                 dense_threshold: float = 0.10,
                 cache: "_BlobCache | None" = None) -> pd.DataFrame:
    """WAND over one rbucket. term_meta = [(term, idf)] in term order.

    Adaptive: if the bucket's matched postings cover more than
    ``dense_threshold`` of its doc range, pruning cannot win — switch to
    the vectorized exhaustive kernel (same float contract)."""
    if not len(pdf):
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"})
    cache = cache if cache is not None else _BlobCache()
    if len(term_meta) == 1:
        rows = pdf[pdf["term"] == term_meta[0][0]]
        return _single_term_topk(rows, term_meta[0][1], k, avgdl, k1, b,
                                 cache=cache)
    n_postings = int(pdf["n"].sum())
    span = int(pdf["last_doc"].max()) - int(pdf["first_doc"].min()) + 1
    if span > 0 and n_postings > dense_threshold * span:
        return _score_bucket_vectorized(pdf, term_meta, k, avgdl, k1, b,
                                        cache=cache)
    cursors: list[_TermCursor] = []
    for term, idf in term_meta:
        rows = pdf[pdf["term"] == term]
        if len(rows):
            cursors.append(_TermCursor(idf, rows, avgdl, k1, b,
                                       cache=cache))
    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap
    theta = float("-inf")
    while True:
        live = [c for c in cursors if c.cur < _EXHAUSTED]
        if not live:
            break
        live.sort(key=lambda c: c.cur)
        # WAND pivot: smallest prefix whose Σ term-ub can beat θ
        acc = 0.0
        pivot = -1
        for i, c in enumerate(live):
            acc += c.ub
            if acc > theta or len(heap) < k:
                pivot = i
                break
        if pivot < 0:
            break
        pivot_doc = live[pivot].cur
        if live[0].cur == pivot_doc:
            # block-max check: tighter bound from the CURRENT blocks
            bm = sum(c.block_max_score() for c in live
                     if c.cur <= pivot_doc <= c.block_last())
            if len(heap) >= k and bm <= theta:
                # Skip the doc range where the involved blocks stay
                # current: capped at the shortest involved block's end AND
                # at the first not-yet-involved cursor, so every skipped
                # doc's true score is bounded by bm.
                boundary = min(c.block_last() for c in live
                               if c.cur <= pivot_doc <= c.block_last()) + 1
                nxt = min((c.cur for c in live if c.cur > pivot_doc),
                          default=_EXHAUSTED)
                boundary = min(boundary, nxt)
                for c in live:
                    if c.cur < boundary:
                        c.advance_to(boundary)
                continue
            # full evaluation; cursors list is in term order -> the float
            # sum order is the exhaustive scorer's sort_array order
            score = 0.0
            for c in cursors:
                if c.cur == pivot_doc:
                    score += c.score_current()
            item = (score, -pivot_doc)
            if len(heap) < k:
                heapq.heappush(heap, item)
                if len(heap) == k:
                    theta = heap[0][0]
            elif item > heap[0]:
                heapq.heapreplace(heap, item)
                theta = heap[0][0]
            for c in cursors:
                if c.cur == pivot_doc:
                    c.step()
        else:
            # advance the leading cursors up to the pivot doc
            for c in live[:pivot]:
                c.advance_to(pivot_doc)
    rows = [(-nd, s) for s, nd in heap]
    return pd.DataFrame(rows, columns=["doc_id", "score"])


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
    """Evaluate a whole query SET in one Spark job -> (qid, doc_id, score).

    Serving shape: per-query driver round trips dominate latency at small
    k, so the bucket kernel runs every query against its bucket in one
    applyInPandas pass (matched terms unioned, metadata broadcast via the
    closure), then one global top-k per qid.  Results are bit-identical
    to per-query wand_topk.

    ``terms_fn``: query-string -> term list; defaults to the flagship
    analysis chain (custom Analyzer chains pass ``analyzer.terms``)."""
    if terms_fn is None:
        terms_fn = lambda q: [t.term for t in analyze(q)]
    return _wand_set(postings, tstats, n_docs, avgdl,
                     {qid: [(t, 1.0) for t in sorted(set(terms_fn(q)))]
                      for qid, q in queries.items()}, k, k1, b)


def _wand_set(postings: DataFrame, tstats: DataFrame, n_docs: int,
              avgdl: float, entries: dict[str, list[tuple[str, float]]],
              k: int, k1: float, b: float) -> DataFrame:
    """The WAND serving plan over ``{qid: [(term, weight), ...]}`` ->
    (qid, doc_id, score): one df collect for the union of terms, one
    applyInPandas pass running every query against each bucket, one
    per-qid top-k window.  A single query is a set of one."""
    spark = postings.sparkSession
    schema = "qid string, doc_id long, score double"
    all_terms = sorted({t for es in entries.values() for t, _ in es})
    if not all_terms:
        return spark.createDataFrame([], schema)
    dfs = {r["term"]: int(r["df"]) for r in
           _filter_terms(tstats, all_terms).select("term", "df").collect()}
    metas = {qid: [(t, w * bm25_idf(n_docs, dfs[t]))
                   for t, w in sorted(es) if t in dfs]
             for qid, es in entries.items()}
    metas = {qid: m for qid, m in metas.items() if m}
    if not metas:
        return spark.createDataFrame([], schema)

    def bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        # one decode memo for the WHOLE query set against this bucket:
        # shared terms decode once, not once per query (r6, _BlobCache)
        cache = _BlobCache()
        for qid, meta in metas.items():
            # restrict to THIS query's terms: the bucket holds the union
            # of all queries' postings, which would inflate the adaptive
            # density statistic and the dense kernel's doc-range span
            sub = pdf[pdf["term"].isin([t for t, _ in meta])]
            r = _wand_bucket(sub, meta, k, avgdl, k1, b, cache=cache)
            r.insert(0, "qid", qid)
            outs.append(r)
        return pd.concat(outs, ignore_index=True)

    matched = _filter_terms(
        postings, sorted({t for m in metas.values() for t, _ in m}))
    local = matched.groupBy("rbucket").applyInPandas(bucket, schema=schema)
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (local.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k).drop("_r"))


def prefix_topk(postings: DataFrame, tdict: DataFrame, n_docs: int,
                avgdl: float, prefix: str, k: int = 10,
                max_expansions: int = 64) -> DataFrame:
    """Prefix (wildcard `p*`) query — the reference's automaton package
    (SURVEY A19) maps to a RANGE predicate on the sorted term dictionary:
    expand matching terms (bounded, df-descending like Lucene's top-terms
    rewrite), then score the union through the same WAND kernel."""
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
    """Core WAND entry over pre-analyzed terms.

    ``tstats`` is (term, df, ...) — from term_stats_from_postings or the
    DataFrame path; only the query's rows are collected (driver-side idf,
    see fulltext.idf on why).

    ``term_boosts``: optional weighted-CLAUSE form, [(term, weight)]
    sorted by term, possibly with REPEATED terms (one entry per query
    clause — Lucene's fuzzy edit-distance downweight, boosted clauses).
    Each entry becomes its own cursor with idf x weight; weights scale
    every block bound linearly, so WAND pruning stays exact.

    Runs the batch kernel (wand_topk_many's plan) as a set of one."""
    entries = term_boosts if term_boosts is not None \
        else [(t, 1.0) for t in (terms or [])]
    return _wand_set(postings, tstats, n_docs, avgdl, {"_": entries},
                     k, k1, b).drop("qid")
