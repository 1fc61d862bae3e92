"""Block-max WAND: the pruning strategy of the one serving plan
(operators/boolean.py::_tree_set) for flat disjunctions (SURVEY.md §2-C).

A flat disjunction is a query tree whose root holds only SHOULD leaves
(msm <= 1, no MUST, NOT or phrase) with a finite k, one avgdl and
non-negative weights: ``search``, ``search_many``, prefix, fuzzy, regex,
MLT and ``wand_topk*`` build exactly that tree, and so do
``query("a OR b")``, ``pre* b`` or ``a~1 b``.  Inside the plan's
per-bucket pass (boolean._bucket_topk), before anything decodes, such a
query takes ``_wand_bucket``: one entry -> the impact-ordered
single-term scan, several entries whose postings cover at most
``DENSE_THRESHOLD`` of their doc span in the bucket -> the
document-at-a-time block-max cursor.  Both decode blocks on demand
through one ``_BlobCache`` per bucket.  Denser buckets take the
exhaustive tree kernel, where pruning cannot win.

Block upper bounds use the stored (max_tf, min_dl): BM25 impact is
monotone ↑ in tf and ↓ in dl, so w·(k1+1)·max_tf/(max_tf +
k1(1−b+b·min_dl/avgdl)) bounds every doc in the block (see postings.py on
why the build stores these instead of a precomputed impact); the weight
w = idf x boost scales every bound linearly, so pruning stays exact.

Float contract: per-doc scores sum contributions in entry order (term,
then weight), the tree kernel's instance order — bit-identical results
whichever strategy a bucket takes, at any parallelism.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..analysis import analyze
from ..functions.codec import delta_decode, vbyte_decode
from .fulltext import B, K1
from .postings import _topk_cut, term_dfs

_EXHAUSTED = 1 << 62

# a flat disjunction whose postings in a bucket cover more than this
# share of the bucket's doc span takes the exhaustive tree kernel:
# block-max bounds cannot prune flat scores, and cursor stepping is then
# pure overhead against one vectorized pass
DENSE_THRESHOLD = 0.10


class _BlobCache:
    """Per-bucket memo of the per-BLOCK decodes of the two strategies
    that skip blocks and decode on demand: the WAND cursor
    (_TermCursor) and the impact-ordered single-term scan
    (_single_term_topk).  Whole-term decodes (the tree kernel) go
    through one postings.decode_postings pass instead, so this memo
    pins only the blocks those strategies actually visited.

    In batched serving one bucket evaluates EVERY query of the set, and
    a term shared by many queries had its blocks VByte-decoded once per
    query — measured 4.5 s -> 1.5 s for the 100-query batch kernel at
    sf1.0 with this memo.  Scope is one bucket() invocation (created in
    boolean._bucket_topk, or per _wand_bucket call), so no
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
            self._set_block_lazy(nb)
            if self.cur >= target:
                # lands on/before the block's first doc: metadata is
                # enough — skip the decode entirely
                return
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
                 cache: "_BlobCache | None" = None) -> pd.DataFrame:
    """Top-k of a flat disjunction over one rbucket's block rows.
    ``term_meta`` = [(term, weight)] in entry order, weight = idf x
    boost, one cursor per entry (a repeated term keeps one per clause).
    One entry takes the impact-ordered single-term scan; several take
    document-at-a-time block-max WAND.  The caller routes dense buckets
    to the exhaustive tree kernel (boolean._bucket_topk)."""
    if not len(pdf):
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"})
    cache = cache if cache is not None else _BlobCache()
    if len(term_meta) == 1:
        rows = pdf[pdf["term"] == term_meta[0][0]]
        return _single_term_topk(rows, term_meta[0][1], k, avgdl, k1, b,
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
    """Evaluate a whole query SET in one grouped pass -> (qid, doc_id,
    score): about three Spark jobs per set (the bucket exchange, the
    kernel, the per-qid window), each query a flat disjunction of its
    analyzed terms.  Results are bit-identical to per-query wand_topk.

    ``terms_fn``: query-string -> term list; defaults to the flagship
    analysis chain (custom Analyzer chains pass ``analyzer.terms``)."""
    # imported here: boolean imports this module's bucket strategies
    from .boolean import _disjunction_set, _top_k_per_qid
    if terms_fn is None:
        terms_fn = lambda q: [t.term for t in analyze(q)]
    entries = {qid: [(t, 1.0) for t in sorted(set(terms_fn(q)))]
               for qid, q in queries.items()}
    terms = {t for es in entries.values() for t, _ in es}
    return _top_k_per_qid(_disjunction_set(
        postings, term_dfs(tstats, terms), n_docs, avgdl, entries, k, k1,
        b), k)


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
    Each entry becomes its own SHOULD leaf (and cursor) with idf x
    weight.

    Runs wand_topk_many's plan as a set of one, finished by a global
    orderBy().limit()."""
    from .boolean import _disjunction_set, _top_k
    entries = term_boosts if term_boosts is not None \
        else [(t, 1.0) for t in (terms or [])]
    return _top_k(_disjunction_set(
        postings, term_dfs(tstats, {t for t, _ in entries}), n_docs, avgdl,
        {"_": entries}, k, k1, b).drop("qid"), k)
