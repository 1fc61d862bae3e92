"""Round-5 behavior: phrase/NOT interaction fixes (r4 ADVICE 1-2),
one-job phrase serving (query_many phrases, phrase_match_many),
multiset sloppy phrases, oversized-negation doc-set anti-join,
field-scoped phrases, escaped identifiers end-to-end, multi-token
synonyms."""

import itertools
import re

import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.engine import FulltextIndex


@pytest.fixture(scope="module")
def pidx(spark, docs):
    i = FulltextIndex.build(spark, docs.select("doc_id", "text"),
                            ["doc_id"], text_col="text",
                            positional=True)
    yield i
    i.close()


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _texts(docs):
    return {r["doc_id"]: (r["text"] or "")
            for r in docs.select("doc_id", "text").collect()}


def _first_phrase(docs, n=2, doc_id=None):
    from php_lucene_analyzer_spark.analysis import analyze
    for r in docs.select("doc_id", "text").collect():
        if doc_id is not None and r["doc_id"] != doc_id:
            continue
        toks = [t.term for t in analyze(r["text"] or "")
                if t.pos_inc > 0]
        if len(toks) >= n:
            return " ".join(toks[:n])
    raise RuntimeError("no doc with enough tokens")


# ---------------------------------------------------------- ADVICE 1
def test_must_not_term_excludes_phrase_framed_docs(pidx, docs):
    """'+"<phrase>" -<term>' : docs containing the prohibited term
    must be excluded even though the candidate frame is the phrase doc
    set (r4 evaluated the NOT leaves nowhere in this branch)."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    assert pdocs
    # pick a term present in at least one phrase doc
    from php_lucene_analyzer_spark.analysis import analyze
    texts = _texts(docs)
    some = sorted(pdocs)[0]
    neg = next(t.term for t in analyze(texts[some])
               if t.term not in set(phrase.split()))
    got = {d for d, _ in _rows(pidx.query(
        f'+"{phrase}" -{neg}', k=10_000))}
    neg_docs = {r["doc_id"] for r in
                pidx.search(neg, k=10_000).collect()}
    want = pdocs - neg_docs
    assert got == want
    assert some not in got            # the known violator is gone


def test_must_not_term_excludes_should_phrase_docs(pidx, docs):
    """'<term> "<phrase>" -<neg>' (SHOULD phrase path): phrase-admitted
    docs carrying the prohibited term are excluded (r4 re-admitted them
    through the full-outer frame)."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    from php_lucene_analyzer_spark.analysis import analyze
    texts = _texts(docs)
    some = sorted(pdocs)[0]
    neg = next(t.term for t in analyze(texts[some])
               if t.term not in set(phrase.split()))
    got = {d for d, _ in _rows(pidx.query(
        f'value "{phrase}" -{neg}', k=10_000))}
    neg_docs = {r["doc_id"] for r in
                pidx.search(neg, k=10_000).collect()}
    assert not (got & neg_docs)
    assert some not in got


# ---------------------------------------------------------- ADVICE 2
def test_empty_must_expansion_with_should_phrase_is_empty(pidx, docs):
    """'+zzz* "<phrase>"': a MUST expansion matching nothing empties
    the result (r4 raised AttributeError on NoneType.join)."""
    phrase = _first_phrase(docs)
    out = pidx.query(f'+zzzzzzq* "{phrase}"', k=10)
    assert out.count() == 0


# ----------------------------------------- must-phrase msm floor (r5)
def test_must_phrase_keeps_docs_without_should_terms(pidx, docs):
    """'"<phrase>" <term>' with a MUST phrase: the phrase is the
    required clause, so docs matching ONLY the phrase stay (r4 floored
    msm to 1 whenever no MUST *term* existed, silently requiring the
    should term)."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    got = {d for d, _ in _rows(pidx.query(
        f'+"{phrase}" value', k=10_000))}
    assert got == pdocs               # every phrase doc stays


# ------------------------------------------------- multiset slop (r5)
def test_sloppy_repeated_term_needs_distinct_occurrences(spark):
    """'"a b a"~n' requires TWO distinct a-occurrences in the window
    (r4 collapsed duplicates).  Checked against a brute-force minimal-
    window enumerator with multiplicity."""
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    rows = [
        (0, "a b c d"),                  # one a: must NOT match "a b a"
        (1, "a b x a"),                  # two a's, span 0..3
        (2, "a a b"),                    # two a's adjacent
        (3, "b a x x a"),                # two a's around b
        (4, "x a b"),                    # one a
        (5, "a x x x x x b a"),          # wide window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = positional_postings(docs.repartitionByRange(2, "doc_id"),
                              "doc_id", "text", terms_fn=simple_terms)

    def brute(toks, req, slop):
        occ = [(p, t) for p, t in enumerate(toks) if t in req]
        nreq = sum(req.values())
        wins = set()
        for combo in itertools.combinations(range(len(occ)), nreq):
            cnt = {}
            for i in combo:
                cnt[occ[i][1]] = cnt.get(occ[i][1], 0) + 1
            if cnt != req:
                continue
            lo, hi = occ[combo[0]][0], occ[combo[-1]][0]
            if (hi - lo) - (nreq - 1) <= slop:
                wins.add((lo, hi))
        # minimal windows: no other window strictly inside
        minimal = {(lo, hi) for lo, hi in wins
                   if not any((l2 >= lo and h2 <= hi
                               and (l2, h2) != (lo, hi))
                              for l2, h2 in wins)}
        return len(minimal)

    req = {"a": 2, "b": 1}
    for slop in (2, 4, 10):
        got = {r["doc_id"]: r["n_matches"] for r in
               phrase_match(pos, "a b a", terms_fn=simple_terms,
                            slop=slop, slop_mode="span").collect()}
        want = {}
        for did, text in rows:
            n = brute(simple_terms(text), req, slop)
            if n:
                want[did] = n
        assert got == want, (slop, got, want)
    assert 0 not in {r["doc_id"] for r in
                     phrase_match(pos, "a b a", terms_fn=simple_terms,
                                  slop=10, slop_mode="span").collect()}


# --------------------------------------- one-job phrase serving (r5)
def test_query_many_with_phrases_bit_identical(pidx, docs):
    """query_many accepts the full grammar incl. phrases and matches
    per-query query() bit-for-bit (phrase leaves run inside the tree
    kernel; test_term_dictionary.py holds the batch's Spark job
    count)."""
    phrase = _first_phrase(docs)
    phrase2 = _first_phrase(docs, n=3)
    queries = {
        "a": f'+"{phrase}" value',
        "b": f'value "{phrase2}" -dup',
        "c": f'+"{phrase}"',
        "d": "(fast OR merge) AND stream",     # phraseless passes through
        "e": f'stream -"{phrase}"',
    }
    want = {qid: _rows(pidx.query(q, k=8))
            for qid, q in queries.items()}
    rows = pidx.query_many(queries, k=8).collect()
    got = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid in queries:
        got.setdefault(qid, []).sort(key=lambda x: (-x[1], x[0]))
        assert got[qid] == want[qid], qid


def test_phrase_match_many_equals_single(pidx, docs):
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, phrase_match_many)

    p1 = _first_phrase(docs)
    p2 = _first_phrase(docs, n=3)
    many = phrase_match_many(pidx.positional,
                             {"x": (p1, 0), "y": (p2, 2)}).collect()
    got = {}
    for r in many:
        got.setdefault(r["pid"], {})[r["doc_id"]] = r["n_matches"]
    for pid, (ph, sl) in {"x": (p1, 0), "y": (p2, 2)}.items():
        want = {r["doc_id"]: r["n_matches"] for r in
                phrase_match(pidx.positional, ph, slop=sl).collect()}
        assert got.get(pid, {}) == want, pid


# ------------------------------------- oversized negation (VERDICT 4)
def test_fat_negation_doc_set_anti_join(pidx, docs, monkeypatch):
    """A huge negative expansion ('-<prefix>*' matching many terms)
    must produce results identical to the collected path WITHOUT the
    term list reaching the driver."""
    import php_lucene_analyzer_spark.operators.fulltext as ftmod
    from php_lucene_analyzer_spark.operators.fulltext import (
        OversizedExpansion)

    q = "value -s*"       # s* matches many terms at sf0.001
    base = _rows(pidx.query(q, k=50))                 # collected path
    got = _rows(pidx.query(q, k=50, neg_collect_max=5))
    assert got == base and got

    # prove the doc-set path engaged and never collected the list
    seen = {}
    real = ftmod.expand_specs

    def spy(*a, **kw):
        out = real(*a, **kw)
        seen["oversized"] = [e for e in out
                             if isinstance(e, OversizedExpansion)]
        return out

    monkeypatch.setattr(ftmod, "expand_specs", spy)
    pidx.query(q, k=50, neg_collect_max=5).collect()
    assert len(seen["oversized"]) == 1
    assert seen["oversized"][0].n_terms > 5


def test_fat_negation_with_phrase(pidx, docs):
    phrase = _first_phrase(docs)
    q = f'+"{phrase}" -s*'
    base = _rows(pidx.query(q, k=50))
    got = _rows(pidx.query(q, k=50, neg_collect_max=5))
    assert got == base


# ---------------------------------------- field-scoped phrases (r5)
def test_field_scoped_phrase(spark):
    rows = [
        (0, "alpha beta gamma", "delta epsilon"),
        (1, "delta epsilon zeta", "alpha beta"),
        (2, "alpha gamma", "epsilon delta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, a string, b string")
    idx = FulltextIndex.build(spark, docs, ["doc_id"],
                              fields=["a", "b"], positional=True)
    try:
        # phrase in the default field
        got_a = {d for d, _ in _rows(idx.query('+"alpha beta"', k=10))}
        assert got_a == {0}
        # phrase scoped to field b
        got_b = {d for d, _ in _rows(idx.query('+b:"alpha beta"',
                                               k=10))}
        assert got_b == {1}
        got_b2 = {d for d, _ in _rows(idx.query('+b:"delta epsilon"',
                                                k=10))}
        assert got_b2 == {0}          # order matters: doc 2 has it reversed
        # SHOULD field phrase scores
        got = _rows(idx.query('b:"alpha beta" gamma', k=10))
        assert {d for d, _ in got} == {0, 1, 2}
    finally:
        idx.close()


# ------------------------------------- escaped identifiers (VERDICT 3)
def test_escaped_identifiers_end_to_end(spark):
    rows = [(0, "path:to/file loads config"),
            (1, "other text entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = FulltextIndex.build(spark, docs, ["doc_id"], text_col="text")
    try:
        # the analyzer splits 'path:to/file'; an escaped colon query
        # must parse as ONE term atom and analyze the same way
        got = {d for d, _ in _rows(idx.query(r"path\:to/file", k=10))}
        assert got == {0}
        with pytest.raises(ValueError):
            idx.query("path:to/file", k=10)   # unescaped: unknown field
    finally:
        idx.close()


# ------------------------------------- multi-token synonyms (r5)
def test_multi_token_synonyms_end_to_end(spark):
    from php_lucene_analyzer_spark.analysis.analyzers import Analyzer

    an = Analyzer(stemmer=None,
                  synonyms={"usa": "united states",
                            "united states": "usa"})
    rows = [(0, "the usa economy"),
            (1, "united states policy"),
            (2, "france economy")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    idx = FulltextIndex.build(spark, docs, ["doc_id"], text_col="text",
                              analyzer=an, positional=True)
    try:
        # querying the multi-word form finds the single-word doc…
        got = {r["doc_id"] for r in idx.search("united states",
                                               k=10).collect()}
        assert {0, 1} <= got and 2 not in got
        # …and the single-word form finds the multi-word doc
        got2 = {r["doc_id"] for r in idx.search("usa", k=10).collect()}
        assert {0, 1} <= got2
        # phrase query over the inserted graph: "united states" as a
        # phrase matches doc 0 through the flattened synonym path
        ph = {r["doc_id"] for r in
              idx.phrase("united states").collect()}
        assert 1 in ph and 0 in ph
    finally:
        idx.close()


# ------------------------------------- review-pass regressions (r5)
def test_bare_should_phrase_scores_in_query_many(pidx, docs):
    """A term-less query with SHOULD phrases must score them
    idf-weighted in BOTH paths (the r5 first cut count-ranked every
    term-less query in query_many, putting the best doc last)."""
    phrase = _first_phrase(docs)
    want = _rows(pidx.query(f'"{phrase}"', k=20))
    got = [(r["doc_id"], r["score"]) for r in
           pidx.query_many({"q": f'"{phrase}"'}, k=20).collect()]
    got.sort(key=lambda x: (-x[1], x[0]))
    assert got == want and want
    assert want[0][1] > 0.0           # idf-weighted, not count 0

    # mixed: required phrase + optional phrase, still no terms
    p2 = _first_phrase(docs, n=3)
    q = f'+"{phrase}" "{p2}"'
    want2 = _rows(pidx.query(q, k=20))
    got2 = [(r["doc_id"], r["score"]) for r in
            pidx.query_many({"q": q}, k=20).collect()]
    got2.sort(key=lambda x: (-x[1], x[0]))
    assert got2 == want2


def test_must_phrase_doc_without_terms_scores_zero_not_null(pidx, docs):
    """'+"<phrase>" <term>': a phrase doc lacking the term still rows
    with a non-NULL score (r5 first cut leaked NULL through the left
    join); since the MUST-phrase scoring change the score is the
    phrase's own weighted contribution."""
    phrase = _first_phrase(docs)
    rows = pidx.query(f'+"{phrase}" value', k=10_000).collect()
    assert rows
    assert all(r["score"] is not None for r in rows)
    got = {r["doc_id"]: r["score"] for r in rows}
    many = {r["doc_id"]: r["score"] for r in
            pidx.query_many({"q": f'+"{phrase}" value'},
                            k=10_000).collect()}
    assert got == many


def test_query_many_fat_negation_doc_set(pidx, docs, monkeypatch):
    """The oversized-negation doc-set path protects query_many too
    (review finding: the r4-VERDICT-4 fix was applied only to
    query())."""
    import php_lucene_analyzer_spark.operators.fulltext as ftmod
    from php_lucene_analyzer_spark.operators.fulltext import (
        OversizedExpansion)

    qs = {"a": "value -s*", "b": "stream merge"}
    base = {(r["qid"], r["doc_id"], r["score"]) for r in
            pidx.query_many(qs, k=50).collect()}
    got = {(r["qid"], r["doc_id"], r["score"]) for r in
           pidx.query_many(qs, k=50, neg_collect_max=5).collect()}
    assert got == base and got

    seen = {}
    real = ftmod.expand_specs

    def spy(*a, **kw):
        out = real(*a, **kw)
        seen["oversized"] = [e for e in out
                             if isinstance(e, OversizedExpansion)]
        return out

    monkeypatch.setattr(ftmod, "expand_specs", spy)
    pidx.query_many(qs, k=50, neg_collect_max=5).collect()
    assert len(seen["oversized"]) == 1


def test_phrase_unknown_field_raises(pidx):
    with pytest.raises(ValueError):
        pidx.phrase("fast merge", field="nope")


def test_escaped_quote_inside_phrase_parses(pidx):
    from php_lucene_analyzer_spark.queryparser import parse_query

    t = parse_query(r'"say \"hi\" now"')
    atoms = [c for _, c in t.clauses]
    assert atoms[0].kind == "phrase" and atoms[0].value == 'say "hi" now'
    # executes without error (terms analyzed from the unescaped text)
    pidx.query(r'"say \"hi\" now"', k=3).collect()


def test_query_many_phrase_plan_is_join_sane(pidx, docs, monkeypatch):
    """Physical-plan audit for the phrase serving path: no cartesian
    products or nested-loop joins anywhere.  On the grouped branch (the
    cap forced to 0) ONE exchange — over the union of the term and
    phrase-term block scans — feeds the kernel; on the driver branch
    the one collect reads that union with no exchange and no Python
    node."""
    import php_lucene_analyzer_spark.operators.boolean as Bo

    phrase = _first_phrase(docs)
    qs = {"a": f'+"{phrase}" value', "b": "stream -dup"}
    monkeypatch.setattr(Bo, "DRIVER_POSTINGS_CAP", 0)
    df = pidx.query_many(qs, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert plan.count("Exchange hashpartitioning(rbucket") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "Union" in plan
    want = sorted(df.collect())

    monkeypatch.undo()
    scans = []
    to_pandas = type(df).toPandas

    def spy(frame):
        scans.append(frame)
        return to_pandas(frame)

    monkeypatch.setattr(type(df), "toPandas", spy)
    got = pidx.query_many(qs, k=5)
    assert len(scans) == 1
    nodes = _exec_nodes(scans[0])
    for node in ("CartesianProduct", "NestedLoop", "Exchange", "Python",
                 "InPandas"):
        assert not any(node in n for n in nodes), (node, nodes)
    assert "UnionExec" in nodes and "InMemoryTableScanExec" in nodes
    assert sorted(got.collect()) == want and want


def _exec_nodes(df) -> list[str]:
    """The physical operators that ran for ``df`` (AQE stages unwrapped;
    a cached relation is one InMemoryTableScanExec leaf, since its plan
    ran when it was cached)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(node.plan())
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


# ------------------------------------------- nested phrases (r5 late)
def _contribs(pidx, term):
    """{doc_id: BM25 contribution of one term} via the WAND engine."""
    from php_lucene_analyzer_spark.operators.wand import wand_topk_terms
    return {r["doc_id"]: r["score"] for r in
            wand_topk_terms(pidx.postings, pidx.tstats, pidx.n_docs,
                            pidx.avgdl, [term], 10_000).collect()}


def test_nested_phrase_in_or_group(pidx, docs):
    """'(t1 OR "<phrase>") AND t2': group satisfied by term OR nested
    phrase; match set and scores checked against set algebra + summed
    single-term contributions (nested phrases gate, they don't
    score)."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    c_value = _contribs(pidx, "valu")     # porter2 stem of 'value'
    c_stream = _contribs(pidx, "stream")
    got = {d: s for d, s in _rows(pidx.query(
        f'(value OR "{phrase}") AND stream', k=100_000))}
    want = {}
    for d in (set(c_value) | pdocs) & set(c_stream):
        exp = c_stream[d] + c_value.get(d, 0.0)
        want[d] = exp
    assert set(got) == set(want)
    for d in got:
        assert got[d] == want[d], (d, got[d], want[d])
    # at least one doc matched ONLY via the phrase (else the test is
    # vacuous for the phrase path)
    assert any(d not in c_value for d in got) or not (pdocs - set(c_value))


def test_nested_phrase_only_group(pidx, docs):
    """'+("<p1>" OR "<p2>")': a MUST group satisfied purely by nested
    phrases — no term evidence anywhere (the base-only path)."""
    p1 = _first_phrase(docs)
    p2 = _first_phrase(docs, n=3)
    d1 = {r["doc_id"] for r in pidx.phrase(p1).collect()}
    d2 = {r["doc_id"] for r in pidx.phrase(p2).collect()}
    got = {d for d, _ in _rows(pidx.query(f'+("{p1}" OR "{p2}")',
                                          k=100_000))}
    assert got == (d1 | d2)


def test_nested_not_phrase_in_group(pidx, docs):
    """'(stream AND NOT "<phrase>")': nested prohibited phrase excludes
    within its group."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    c_stream = _contribs(pidx, "stream")
    got = {d: s for d, s in _rows(pidx.query(
        f'(stream AND NOT "{phrase}")', k=100_000))}
    want = {d: c_stream[d] for d in set(c_stream) - pdocs}
    assert got == want


def test_nested_phrase_with_prohibited_term_seen_guard(pidx, docs):
    """'(NOT value "<phrase>")': docs carrying the prohibited term must
    stay excluded even though they match the phrase — the doc has term
    postings, so it must NOT re-enter through the kernel-invisible
    (base-only) path.  This is exactly the `seen` pseudo-variant's
    job."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    c_value = _contribs(pidx, "valu")
    got = {d for d, _ in _rows(pidx.query(
        f'(NOT value "{phrase}")', k=100_000))}
    assert got == pdocs - set(c_value)
    assert got, "vacuous: no phrase doc without 'value'"


def test_nested_phrase_empty_must_expansion_via_phrase(pidx, docs):
    """'+(zzz* OR "<phrase>")': the MUST group's term expansion is
    empty but the phrase satisfies it — must NOT early-return empty."""
    phrase = _first_phrase(docs)
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    got = {d for d, _ in _rows(pidx.query(
        f'+(zzzzzzq* OR "{phrase}")', k=100_000))}
    assert got == pdocs


def test_nested_phrase_limits_lifted(pidx, docs):
    """Five nested phrases in query() and a nested phrase in query_many
    answer (the Shannon-expansion path capped query() at 4 and
    query_many rejected nested phrases): the set-algebra answer, and
    query_many == query()."""
    p1 = _first_phrase(docs)
    p2 = _first_phrase(docs, n=3)
    d1 = {r["doc_id"] for r in pidx.phrase(p1).collect()}
    d2 = {r["doc_id"] for r in pidx.phrase(p2).collect()}
    # five MUST groups, each satisfied by its phrase (p1 or p2) or a term
    # absent from the corpus: the match set is d1 ∩ d2
    q5 = " ".join(f'+("{p1 if i % 2 else p2}" OR zzzq{i})'
                  for i in range(5))
    got = {d: s for d, s in _rows(pidx.query(q5, k=100_000))}
    assert set(got) == d1 & d2 and got
    assert set(got.values()) == {0.0}   # nested phrases gate, never score
    c_stream = _contribs(pidx, "stream")
    q = f'(value OR "{p1}") AND stream'
    many = [(r["doc_id"], r["score"]) for r in
            pidx.query_many({"q": q, "r": q5}, k=100_000).collect()
            if r["qid"] == "q"]
    many.sort(key=lambda x: (-x[1], x[0]))
    want = _rows(pidx.query(q, k=100_000))
    assert many == want and want
    c_value = _contribs(pidx, "valu")
    assert {d for d, _ in want} == (set(c_value) | d1) & set(c_stream)


# -------------------------------- Lucene sloppy accounting (late r5)
def test_lucene_slop_is_order_sensitive(spark):
    """slop_mode="lucene" (the default, PhraseQuery(slop) accounting):
    a transposition costs 2 — '"a b"~1' must NOT match "b a", while
    span mode (inOrder=false windows) does; '"a b"~2' matches."""
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    rows = [
        (0, "b a x x"),                  # transposed, adjacent
        (1, "a b x x"),                  # in order
        (2, "a x b x"),                  # in order, one gap
        (3, "x b x a"),                  # transposed, spread 2 -> 3
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = positional_postings(docs.repartitionByRange(2, "doc_id"),
                              "doc_id", "text", terms_fn=simple_terms)

    def match(slop, mode):
        return {r["doc_id"] for r in
                phrase_match(pos, "a b", terms_fn=simple_terms,
                             slop=slop, slop_mode=mode).collect()}

    assert match(1, "lucene") == {1, 2}          # no transpositions
    assert match(1, "span") == {0, 1, 2, 3}      # unordered window
    assert match(2, "lucene") == {0, 1, 2}       # transposition costs 2
    assert match(4, "lucene") == {0, 1, 2, 3}    # b@1,a@3: spread 3


def test_lucene_slop_repeated_term_distinctness(spark):
    """'"a x a"-shaped phrases under lucene accounting: one occurrence
    cannot serve two phrase positions (the relaxed sweep would admit
    it; the exact per-doc re-count must reject)."""
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    rows = [
        (0, "a b c"),                    # ONE a — must not match "a a"
        (1, "a a b"),                    # two a's, adjacent
        (2, "a x x a"),                  # two a's, spread 3-1=2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pos = positional_postings(docs.repartitionByRange(2, "doc_id"),
                              "doc_id", "text", terms_fn=simple_terms)

    def match(slop):
        return {r["doc_id"] for r in
                phrase_match(pos, "a a", terms_fn=simple_terms,
                             slop=slop).collect()}

    assert match(1) == {1}               # doc0's single a rejected
    assert match(2) == {1, 2}


def test_query_string_slop_uses_lucene_accounting(pidx, docs):
    """'"t0 t1"~1' through the full parse->compile->serve path matches
    exactly the lucene-mode phrase doc set (and differs from span mode
    whenever the corpus contains a transposed-adjacent pair)."""
    phrase = _first_phrase(docs)
    luc = {r["doc_id"] for r in
           pidx.phrase(phrase, slop=1, slop_mode="lucene").collect()}
    got = {d for d, _ in _rows(pidx.query(f'+"{phrase}"~1', k=10_000))}
    assert got == luc and got


def test_phrase_match_many_per_entry_mode_override(pidx, docs):
    """phrase_match_many: a 4th tuple element overrides the call-level
    slop_mode per phrase — both semantics served from ONE job."""
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, phrase_match_many)

    ph = _first_phrase(docs)
    many = phrase_match_many(
        pidx.positional,
        {"luc": (ph, 2, None, "lucene"), "spn": (ph, 2, None, "span")},
        analyzer=pidx.analyzer).collect()
    got = {}
    for r in many:
        got.setdefault(r["pid"], {})[r["doc_id"]] = r["n_matches"]
    for pid, mode in (("luc", "lucene"), ("spn", "span")):
        want = {r["doc_id"]: r["n_matches"] for r in
                phrase_match(pidx.positional, ph, slop=2,
                             analyzer=pidx.analyzer,
                             slop_mode=mode).collect()}
        assert got.get(pid, {}) == want, pid


# ----------------------------------- review findings, late r5 batch 2
def test_span_mode_keeps_distinct_left_counts_on_stacked_tokens():
    """Stacked tokens (pos_inc 0) can put two phrase terms at ONE
    position; span mode must keep the r4-compatible distinct-left
    window count there (the lucene-mode by-value dedup is NOT applied
    to span streams — review finding)."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.positional import (
        _lucene_sloppy_bucket, _sloppy_phrase_bucket)

    flat = {
        "a": (np.array([0]), np.array([1]), np.array([5])),
        "b": (np.array([0]), np.array([2]), np.array([2, 5])),
    }
    d, c = _sloppy_phrase_bucket(flat, {"a": 1, "b": 1}, 10)
    assert d.tolist() == [0] and c.tolist() == [2]   # [2,5] and [5,5]
    # lucene mode counts globally minimal windows: [5,5] ⊂ [2,5] -> 1
    # (adjusted streams: a-0 @5, b-1 @1,4 -> windows [4,5],[1,5] -> the
    # minimal [4,5] only)
    d2, c2 = _lucene_sloppy_bucket(flat, [("a", 0), ("b", 1)], 10)
    assert d2.tolist() == [0] and c2.tolist() == [1]


def test_invalid_slop_mode_raises_even_for_exact_phrases(pidx):
    """A typo'd slop_mode fails on the first call, not on the first
    ~n phrase (review finding: validation lived in the slop>0
    branch)."""
    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match)

    with pytest.raises(ValueError, match="slop_mode"):
        phrase_match(pidx.positional, "merge join",
                     slop_mode="lucen")  # slop=0, typo'd mode
    with pytest.raises(ValueError, match="slop_mode"):
        pidx.query('+"merge join"', slop_mode="bogus")
