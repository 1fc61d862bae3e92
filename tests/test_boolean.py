"""Boolean query semantics (operators/boolean.py) vs a brute-force pandas
oracle using the same analysis chain — MUST conjunction, SHOULD
minimum-should-match, MUST_NOT exclusion, BM25 scoring with the term-asc
float contract, and the degenerate cases (absent must term, msm
unsatisfiable, no scoring clauses)."""

import math

import pandas as pd
import pytest

from php_lucene_analyzer_spark.analysis import analyze
from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.boolean import boolean_topk
from php_lucene_analyzer_spark.operators.postings import index_corpus


@pytest.fixture(scope="module")
def index(spark, docs):
    tdf = ft.term_doc_freqs(docs, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    # five doc-range partitions so the kernel runs across multiple
    # rbuckets; "fused" keeps the input's own partitioning
    postings = index_corpus(docs.repartitionByRange(5, "doc_id"),
                            "doc_id", "text").cache()
    assert postings.select("rbucket").distinct().count() == 5
    fused = index_corpus(docs, "doc_id", "text").cache()
    return dict(n=n, avgdl=avgdl, tstats=tstats, postings=postings,
                fused=fused)


@pytest.fixture(scope="module")
def corpus_pdf(docs):
    return docs.select("doc_id", "text").toPandas()


def _oracle(docs_pdf: pd.DataFrame, must, should, must_not, msm, k=10):
    """Pure-pandas BooleanQuery reference (same chain, same float order)."""
    k1, b = ft.K1, ft.B
    per_doc, dls = {}, {}
    for _, row in docs_pdf.iterrows():
        toks = analyze(row["text"])
        cnt = {}
        for t in toks:
            cnt[t.term] = cnt.get(t.term, 0) + 1
        per_doc[row["doc_id"]] = cnt
        dls[row["doc_id"]] = len(toks)
    n = len(per_doc)
    avgdl = sum(dls.values()) / n
    must_s = sorted(set(must))
    should_s = sorted(set(should) - set(must_s))
    not_s = sorted(set(must_not))
    eff_msm = msm if must_s else max(msm, 1)
    scoring = sorted(set(must_s) | set(should_s))
    dfm = {t: sum(1 for c in per_doc.values() if t in c) for t in scoring}
    if any(dfm.get(t, 0) == 0 for t in must_s):
        return []
    res = []
    for d, counts in per_doc.items():
        if any(t not in counts for t in must_s):
            continue
        if sum(1 for t in should_s if t in counts) < eff_msm:
            continue
        if any(t in counts for t in not_s):
            continue
        s = 0.0
        for t in scoring:  # term-asc: the engine's float contract
            if t in counts and dfm[t]:
                idf = ft.idf(n, dfm[t])
                tf = counts[t]
                # same association as the WAND/boolean kernels
                s += (idf * (tf * (k1 + 1.0))
                      / (tf + k1 * (1.0 - b + b * dls[d] / avgdl)))
        res.append((d, s))
    res.sort(key=lambda x: (-x[1], x[0]))
    return res[:k]


def _run(index, layout="postings", **kw):
    out = boolean_topk(index[layout], index["tstats"], index["n"],
                       index["avgdl"], **kw)
    return [(r["doc_id"], r["score"]) for r in out.collect()]


def _assert_same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, gs), (_, ws) in zip(got, want):
        assert math.isclose(gs, ws, rel_tol=0, abs_tol=0), (gs, ws)


CASES = [
    dict(must=["fast", "merg", "join"]),  # chain-stemmed vocabulary forms
    dict(must=["stream"], should=["batch", "spark"], must_not=["slow"],
         msm=1),
    dict(should=["window", "order", "sort", "tabl"], msm=2),
    dict(should=["dup", "vector"], msm=1),
    dict(must=["custom"], must_not=["dup"]),
    # a term in both must and should: normalized to must-only
    dict(must=["stream"], should=["stream", "batch"], msm=1),
]


@pytest.mark.parametrize("layout, case", [
    pytest.param(layout, case, id=prefix + f"case{i}")
    for layout, prefix in (("postings", ""), ("fused", "fused-"))
    for i, case in enumerate(CASES)])
def test_boolean_matches_bruteforce(index, corpus_pdf, layout, case):
    kw = dict(must=case.get("must", []), should=case.get("should", []),
              must_not=case.get("must_not", []), msm=case.get("msm", 0))
    got = _run(index, layout, k=10, **kw)
    want = _oracle(corpus_pdf, **kw, k=10)
    assert got, f"case produced no rows: {case}"
    _assert_same(got, want)


def test_absent_must_term_empties_result(index):
    assert _run(index, must=["fast", "zzzznotaterm"]) == []


def test_unsatisfiable_msm_empties_result(index):
    assert _run(index, should=["fast", "merge"], msm=3) == []


def test_no_scoring_clause_is_empty(index):
    assert _run(index, must_not=["fast"]) == []


def test_must_not_excludes(index, corpus_pdf):
    with_not = _run(index, must=["custom"], must_not=["dup"], k=500)
    without = _run(index, must=["custom"], k=500)
    dup_docs = {d for d, _ in _run(index, should=["dup"], k=500)}
    assert {d for d, _ in with_not} == {d for d, _ in without} - dup_docs
