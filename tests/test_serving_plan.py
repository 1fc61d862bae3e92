"""One serving plan for every top-k query (operators/boolean.py::
_tree_set): search() and query() share the grouped pass, and inside it
every query of a set takes one per-bucket path.  Block metadata prunes
the rows of a query with a finite k, no negative weight and no phrase
(a vectorized MaxScore filter); the one decoder decodes what survives;
the tree kernel scores it.  Whatever a query prunes, answers are
bit-identical to one full decode."""

import numpy as np
import pytest

import pyspark.sql.functions as F

import php_lucene_analyzer_spark.operators.boolean as Bo
import php_lucene_analyzer_spark.operators.wand as W
import php_lucene_analyzer_spark.operators.postings as P
from php_lucene_analyzer_spark.engine import FulltextIndex
from php_lucene_analyzer_spark.operators.postings import (
    _block_rows, corpus_stats_from_postings, index_corpus,
    term_stats_from_postings)


def _postings(spec: dict):
    """{term: (docs, tfs)} -> one bucket's block rows (dl 50 for all)."""
    terms = sorted(spec)
    docs = [np.asarray(spec[t][0], dtype=np.uint64) for t in terms]
    tfs = [np.asarray(spec[t][1], dtype=np.uint64) for t in terms]
    offs = np.cumsum([0] + [d.size for d in docs]).astype(np.int64)
    return _block_rows(terms, offs, np.concatenate(docs),
                       np.concatenate(tfs),
                       np.full(int(offs[-1]), 50, dtype=np.uint64), 0)


def _full_decode(pdf, tree, inst, k):
    """_tree_bucket over one decode of every row -> [(doc, score)]."""
    terms, offs, docs, tfs, dls = P.decode_postings(pdf)
    tfs, dls = tfs.astype(np.float64), dls.astype(np.float64)
    dec = {t: (docs[a:b], tfs[a:b], dls[a:b])
           for t, a, b in zip(terms, offs[:-1], offs[1:])}
    d, s = Bo._tree_bucket(dec, tree, inst, k, W.K1, W.B)
    return list(zip(d.tolist(), s.tolist()))


def test_bucket_routing_decodes(monkeypatch):
    """Every query takes the same per-bucket path; what it decodes comes
    from its shape and the block metadata.  A flat disjunction and a
    MUST query, whose hot block sets θ, skip the cold blocks; a
    negative weight (search_fuzzy's "lucene" downweight can go below 0,
    and block bounds then bound nothing) decodes all its rows.  The
    mixed set answers each query as it answers alone, and as one full
    decode does, and decodes no row twice."""
    s1 = np.arange(0, 640 * 20, 20)          # 5 blocks, tf 9 in block 0
    s1_tf = np.where(np.arange(640) < 128, 9, 1)
    s2 = np.arange(20_000, 20_000 + 384 * 20, 20)          # 3 blocks
    dense = np.arange(30_000, 31_200)
    pdf = _postings({"s1": (s1, s1_tf), "s2": (s2, np.ones(384)),
                     "d1": (dense, np.full(1200, 2)),
                     "d2": (dense[::2], np.full(600, 3))})
    must = ("node", (("leaf", 0, ("s1",)),), (("leaf", 1, ("s2",)),), (), 0)
    queries = {"sparse": [("s1", 2.0), ("s2", 0.5)],
               "dense": [("d1", 1.0), ("d2", 1.5)],
               "negative": [("s1", -0.5), ("s2", 0.5)]}
    trees, insts = {}, {}
    for q, es in queries.items():
        trees[q], inst = Bo._should_tree(es)
        insts[q] = [(t, w, 50.0, i) for t, w, i in inst]
    trees["must"] = must
    insts["must"] = [("s1", 2.0, 50.0, 0), ("s2", 0.5, 50.0, 1)]
    qterms = {q: sorted(Bo._leaf_terms(t)) for q, t in trees.items()}
    held = {q: int(pdf["term"].isin(qterms[q]).sum()) for q in trees}

    def run(qids):
        return Bo._bucket_topk(pdf, {q: trees[q] for q in qids}, insts,
                               qterms, {q: 10 for q in qids}, W.K1, W.B)

    calls = []
    orig = Bo.decode_postings

    def spy(rows):
        calls.append(rows)
        return orig(rows)

    monkeypatch.setattr(Bo, "decode_postings", spy)
    answers = {}
    for q in trees:
        calls.clear()
        answers[q] = run([q])
        decoded = sum(len(c["term"]) for c in calls)
        if q in ("sparse", "must"):
            assert 0 < decoded < held[q], (q, decoded, held[q])
        else:
            assert decoded == held[q], (q, decoded, held[q])
    calls.clear()
    together = run(list(trees))
    keys = [k for c in calls for k in zip(c["term"], c["first_doc"])]
    assert len(keys) == len(set(keys))

    def rows(df, q):
        d = df[df["qid"] == q]
        return list(zip(d["doc_id"].astype(int), d["score"].astype(float)))

    for q in trees:
        want = _full_decode(pdf, trees[q], insts[q], 10)
        assert want and rows(together, q) == rows(answers[q], q) == want, q


@pytest.fixture(scope="module")
def skewed(spark):
    """1,500 docs over three doc-range buckets: ``alpha``/``beta`` are
    in most docs (dense in every bucket), ``zeta``/``omega`` in few
    (sparse), so the same query shapes meet both layouts."""
    rows = []
    for i in range(1500):
        words = ["filler"] * (1 + i % 7)
        if i % 3:
            words.append("alpha")
        if i % 2 == 0:
            words += ["beta"] * (1 + i % 4)
        if i % 40 == 7:
            words += ["zeta"] * (1 + i % 3)
        if i % 45 == 11:
            words.append("omega")
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    postings = index_corpus(docs.repartitionByRange(3, "doc_id"),
                            "doc_id", "text").cache()
    tstats = term_stats_from_postings(postings).cache()
    idx = FulltextIndex(spark, postings, tstats, len(rows),
                        corpus_stats_from_postings(postings, len(rows)))
    idx._cached = [postings, tstats]
    yield idx
    idx.close()


def _density(idx, terms) -> list[float]:
    """Per bucket: the terms' postings over their doc span there."""
    rows = (idx.postings.filter(F.col("term").isin(terms))
            .groupBy("rbucket")
            .agg(F.sum("n").alias("n"), F.min("first_doc").alias("lo"),
                 F.max("last_doc").alias("hi")).collect())
    return [r["n"] / (r["hi"] - r["lo"] + 1) for r in rows]


@pytest.mark.parametrize("pair,dense", [(("zeta", "omega"), False),
                                        (("alpha", "beta"), True)])
def test_query_or_equals_search(skewed, pair, dense):
    """query("a OR b") runs the same flat disjunction as search("a b"),
    bit for bit, for a sparse pair (under a tenth of its doc span in
    every bucket) and a dense one (more postings than docs spanned) —
    and both equal the nested form "+(a OR b)"."""
    a, b = pair
    dens = _density(skewed, [a, b])
    assert len(dens) == 3
    assert all(d > 1.0 if dense else d < 0.1 for d in dens), dens
    for k in (3, 10, 40):
        got = skewed.query(f"{a} OR {b}", k=k).collect()
        assert got == skewed.search(f"{a} {b}", k=k).collect()
        assert got == skewed.query(f"+({a} OR {b})", k=k).collect()
        assert len(got) == k


def test_mixed_route_set_equals_per_query(skewed):
    """One query_many set whose queries differ in shape and density and
    share ``zeta`` answers each query as query() does alone; search_many
    likewise matches search()."""
    qs = {"sparse": "zeta OR omega", "dense": "alpha beta",
          "must": "+zeta alpha", "not": "zeta omega -beta",
          "one": "zeta", "fuzzy": "zeta~1 omega", "prefix": "ome* zeta"}
    many = skewed.query_many(qs, k=10).collect()
    for qid, q in qs.items():
        want = skewed.query(q, k=10).collect()
        got = sorted((r for r in many if r["qid"] == qid),
                     key=lambda r: (-r["score"], r["doc_id"]))
        assert [(r["doc_id"], r["score"]) for r in got] == \
            [(r["doc_id"], r["score"]) for r in want] and want, qid
    bags = {"s": "zeta omega", "d": "alpha beta", "m": "zeta beta",
            "o": "omega"}
    many = skewed.search_many(bags, k=10).collect()
    for qid, q in bags.items():
        want = skewed.search(q, k=10).collect()
        got = sorted((r for r in many if r["qid"] == qid),
                     key=lambda r: (-r["score"], r["doc_id"]))
        assert [(r["doc_id"], r["score"]) for r in got] == \
            [(r["doc_id"], r["score"]) for r in want] and want, qid
