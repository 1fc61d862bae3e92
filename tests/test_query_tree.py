"""Nested boolean tree execution (operators/boolean.py::
boolean_tree_topk via FulltextIndex.query): grouped AND/OR/NOT,
boosts, ranges, and the multi-field ``field:term`` namespace — each
checked bit-for-bit against an independent pure-Python evaluator of
the same tree semantics (match algebra + per-clause scoring in
instance order)."""

import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.analysis import analyze
from php_lucene_analyzer_spark.engine import FulltextIndex
from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.fulltext import FIELD_SEP


@pytest.fixture(scope="module")
def idx(spark, docs):
    i = FulltextIndex.build(spark, docs.select("doc_id", "text"),
                            ["doc_id"], text_col="text")
    yield i
    i.close()


@pytest.fixture(scope="module")
def corpus(docs):
    """{doc_id: {term: tf}}, {doc_id: dl} under the full chain."""
    per_doc, dls = {}, {}
    for row in docs.select("doc_id", "text").collect():
        toks = [t.term for t in analyze(row["text"] or "")]
        cnt = {}
        for t in toks:
            cnt[t] = cnt.get(t, 0) + 1
        per_doc[row["doc_id"]] = cnt
        dls[row["doc_id"]] = len(toks)
    return per_doc, dls


def _tree_oracle(tree, instances, per_doc, dls, n_docs, avgdl_of, k,
                 k1=ft.K1, b=ft.B, phrase_docs=(), scored=()):
    """Independent evaluator: Python sets for the match algebra, float
    accumulation in instance order (the kernel's documented contract).

    ``phrase_docs[j]``: {doc_id: n_matches} of phrase leaf j (from
    phrase_match); ``scored``: [(j, w)] top-level phrases that score,
    added after the term score as term + (0.0 + c_j0 + c_j1 + …) with
    c = w·n·(k1+1)/(n+k1)."""
    all_docs = set(per_doc)

    def match(node):
        if node[0] == "phrase":
            return set(phrase_docs[node[1]])
        if node[0] == "leaf":
            return {d for d in all_docs
                    if any(t in per_doc[d] for t in node[2])}
        _, must, should, nots, msm = node
        cand = None
        for c in must:
            m = match(c)
            cand = m if cand is None else cand & m
        shoulds = [match(c) for c in should]
        if cand is None:
            u = set().union(*shoulds) if shoulds else set()
            if msm <= 1:
                cand = u
            else:
                cand = {d for d in u
                        if sum(d in s for s in shoulds) >= msm}
        elif msm:
            cand = {d for d in cand
                    if sum(d in s for s in shoulds) >= msm}
        for c in nots:
            cand = cand - match(c)
        return cand

    effs = {}

    def walk(node, eff):
        if node[0] == "phrase":
            return
        m = match(node) & eff
        if node[0] == "leaf":
            effs[node[1]] = m
            return
        for c in node[1] + node[2]:
            walk(c, m)

    cand = match(tree)
    walk(tree, cand)
    dfm = {}
    for t, _, _ in instances:
        if t not in dfm:
            dfm[t] = sum(1 for c in per_doc.values() if t in c)
    scores = {d: 0.0 for d in cand}
    for t, w, lid in instances:          # instance order = float order
        if not dfm[t]:
            continue
        wf = w * ft.idf(n_docs, dfm[t])
        av = avgdl_of(t)
        for d in effs.get(lid, ()):
            if t in per_doc[d]:
                tf = per_doc[d][t]
                scores[d] += (wf * (tf * (k1 + 1.0))
                              / (tf + k1 * (1.0 - b + b * dls[d] / av)))
    if scored:
        for d in scores:
            p = 0.0
            for j, w in scored:
                n = phrase_docs[j].get(d)
                if n:
                    p += w * n * (k1 + 1.0) / (n + k1)
            scores[d] = scores[d] + p
    res = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]
    return res


def _expected(idx, corpus, q, k=10, msm=0):
    """Compile with the engine's own compiler (pure metadata), evaluate
    with the independent oracle."""
    from php_lucene_analyzer_spark.operators.fulltext import expand_specs
    from php_lucene_analyzer_spark.querycompile import compile_query
    from php_lucene_analyzer_spark.queryparser import parse_query
    per_doc, dls = corpus
    plan = compile_query(parse_query(q), idx._terms,
                         None, msm, 64, known_fields=set())
    exp = expand_specs(idx.tstats, plan.specs) if plan.specs else []
    tree, inst = plan.finalize(exp)
    return _tree_oracle(tree, inst, per_doc, dls, idx.n_docs,
                        lambda t: idx.avgdl, k)


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.parametrize("q,msm", [
    ("(fast OR merge) AND stream", 0),
    ("(fast AND merge) OR (slow AND stream)", 0),
    ("value (window OR order) -(fast merge)", 0),
    ("window order sort -fast", 2),
    ("((fast OR merge) AND (stream OR batch)) value", 0),
    ("customer AND NOT (dup OR slow)", 0),
])
def test_nested_tree_matches_oracle(idx, corpus, q, msm):
    got = _rows(idx.query(q, k=10, msm=msm))
    want = _expected(idx, corpus, q, k=10, msm=msm)
    assert got == want and got


def test_boost_matches_oracle(idx, corpus):
    q = "fast^2 stream (merge join)^0.5"
    got = _rows(idx.query(q, k=10))
    want = _expected(idx, corpus, q, k=10)
    assert got == want and got
    # boost actually changes the ranking vs unboosted
    plain = _rows(idx.query("fast stream (merge join)", k=10))
    assert [d for d, _ in got] != [d for d, _ in plain] \
        or [s for _, s in got] != [s for _, s in plain]


def test_duplicate_clause_scores_per_clause(idx, corpus):
    """Lucene: a term in two clauses scores once per clause (the tree
    path resolves the r3 overlap divergence)."""
    got = _rows(idx.query("+fast fast", k=10))
    want = _expected(idx, corpus, "+fast fast", k=10)
    assert got == want and got
    single = dict(_rows(idx.query("+fast", k=10)))
    for d, s in got:
        assert s == pytest.approx(2 * single[d], rel=1e-12)


def test_range_query_equals_manual_expansion(idx):
    from php_lucene_analyzer_spark.operators.wand import wand_topk_terms
    got = _rows(idx.query("[merge TO order]", k=10))
    terms = sorted(
        r["term"] for r in idx.tstats
        .filter((F.col("term") >= "merge") & (F.col("term") <= "order"))
        .orderBy(F.desc("df"), F.asc("term")).limit(64).collect())
    want = _rows(wand_topk_terms(idx.postings, idx.tstats, idx.n_docs,
                                 idx.avgdl, terms, 10))
    assert got == want and got
    # exclusive bound drops the boundary term
    ex = _rows(idx.query("{merge TO order]", k=10))
    terms_ex = sorted(
        r["term"] for r in idx.tstats
        .filter((F.col("term") > "merge") & (F.col("term") <= "order"))
        .orderBy(F.desc("df"), F.asc("term")).limit(64).collect())
    want_ex = _rows(wand_topk_terms(idx.postings, idx.tstats, idx.n_docs,
                                    idx.avgdl, terms_ex, 10))
    assert ex == want_ex


def test_negative_expansion_is_uncapped(idx, spark):
    """-prefix* excludes EVERY matching term, not the top-64 by df
    (r3 ADVICE item 2): docs matching only a beyond-cap term must
    still be excluded.  80 distinct one-df `szz*` terms make the
    default max_expansions=64 cap observable if it were applied."""
    rows = [(i, f"value szz{i:03d}") for i in range(80)] \
        + [(1000, "value clean document")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    nidx = FulltextIndex.build(spark, docs, ["doc_id"], text_col="text")
    try:
        sterms = [r["term"] for r in
                  nidx.tstats.filter(
                      F.col("term").startswith("szz")).collect()]
        assert len(sterms) >= 80     # the cap WOULD have bitten
        # (81 incl. the WDGF letter|digit split's shared "szz" part)
        got = {d for d, _ in _rows(nidx.query("value -szz*", k=10_000))}
        # with_doc_ids re-ranks densely: the clean doc (source id 1000)
        # is rank 80; every szz-doc (ranks 0-79) is excluded — not just
        # the 64 a capped expansion would have caught
        assert got == {80}
    finally:
        nidx.close()


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_lucene_scoring_mode(idx, corpus):
    """Edit-distance downweight (Lucene FuzzyTermsEnum) against a
    brute-force BM25 over the weighted clause entries, exact floats:
    each (query term -> index term within 2 edits) clause weighs
    1 - dist / min(len(query term), len(term)), and entries accumulate
    in (term, weight) order.  Both query terms reach ``stream``, so the
    entry list carries a repeated term that scores once per clause."""
    per_doc, dls = corpus
    k1, b = ft.K1, ft.B
    q = "stram strem"
    vocab = set().union(*per_doc.values())
    entries = []
    for qt in idx._terms(q):
        for t in vocab:
            dist = _levenshtein(qt, t)
            if dist <= 2:
                entries.append((t, 1.0 - (dist / min(len(qt), len(t))
                                          if dist else 0.0)))
    entries.sort()
    assert [t for t, _ in entries].count("stream") == 2
    dfm = {t: sum(1 for c in per_doc.values() if t in c) for t, _ in entries}
    scores = {}
    for d, counts in per_doc.items():
        if not any(t in counts for t, _ in entries):
            continue
        s = 0.0
        for t, w in entries:
            if t in counts:
                tf = counts[t]
                s += (w * ft.idf(idx.n_docs, dfm[t]) * (tf * (k1 + 1.0))
                      / (tf + k1 * (1.0 - b + b * dls[d] / idx.avgdl)))
        scores[d] = s
    want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:50]
    got = _rows(idx.search_fuzzy(q, k=50, scoring="lucene"))
    assert got == want and got


# -------------------------------------------------------- multi-field
@pytest.fixture(scope="module")
def fdocs(spark, docs):
    return (docs.select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 4))
        .alias("title"),
        F.col("text").alias("body"))).cache()


@pytest.fixture(scope="module")
def fidx(spark, fdocs):
    i = FulltextIndex.build(spark, fdocs, ["doc_id"],
                            fields=["body", "title"])
    yield i
    i.close()


@pytest.fixture(scope="module")
def fcorpus(fdocs):
    per_doc, dls = {}, {}
    fld_len = {"body": {}, "title": {}}
    for row in fdocs.collect():
        cnt = {}
        for fld, prefix in (("body", ""), ("title", "title" + FIELD_SEP)):
            toks = [t.term for t in analyze(row[fld] or "")]
            for t in toks:
                cnt[prefix + t] = cnt.get(prefix + t, 0) + 1
            fld_len[fld][row["doc_id"]] = len(toks)
        per_doc[row["doc_id"]] = cnt
    return per_doc, fld_len


def test_field_avgdl(fidx, fcorpus):
    _, fld_len = fcorpus
    n = fidx.n_docs
    for fld in ("body", "title"):
        want = sum(fld_len[fld].values()) / n
        assert fidx.field_avgdl[fld] == pytest.approx(want, rel=1e-12)


def test_multifield_default_field_query(fidx, fdocs, spark):
    """Default-field queries on a multi-field index equal a single-field
    index over the same column (bare-term namespace is unchanged)."""
    sidx = FulltextIndex.build(spark, fdocs.select("doc_id", "body"),
                               ["doc_id"], text_col="body")
    try:
        assert _rows(fidx.query("+fast +stream", k=8)) \
            == _rows(sidx.query("+fast +stream", k=8))
    finally:
        sidx.close()


def test_search_regex_default_field_only(fidx, fcorpus):
    """search_regex expands over the default field only, as query's
    regex clause does: on a two-field index ``t.*`` would also match
    every stored title term (``title`` + FIELD_SEP + term; Java's ``.``
    matches the separator) and score it with the default field's
    avgdl.  No hit may come from a title term alone."""
    import re
    per_doc, _ = fcorpus
    pat = "t.*"
    assert any(t.startswith("title" + FIELD_SEP) and re.fullmatch(pat, t)
               for t in fidx._dictionary().terms)
    got = _rows(fidx.search_regex(pat, k=40))
    assert got == _rows(fidx.query(f"/{pat}/", k=40)) and got
    for doc_id, _score in got:
        assert any(FIELD_SEP not in t and re.fullmatch(pat, t)
                   for t in per_doc[doc_id]), doc_id


def test_field_scoped_query_matches_oracle(fidx, fcorpus):
    per_doc, fld_len = fcorpus
    n = fidx.n_docs
    q = "title:fast"
    got = _rows(fidx.query(q, k=10))
    # oracle: BM25 over the prefixed term with the TITLE field's avgdl
    term = "title" + FIELD_SEP + fidx._terms("fast")[0]
    dfm = sum(1 for c in per_doc.values() if term in c)
    av = fidx.field_avgdl["title"]
    idfv = 1.0 * ft.idf(n, dfm)
    want = []
    for d, cnt in per_doc.items():
        if term in cnt:
            tf = cnt[term]
            dl = fld_len["title"][d]
            want.append((d, idfv * (tf * (ft.K1 + 1.0))
                         / (tf + ft.K1 * (1.0 - ft.B
                                          + ft.B * dl / av))))
    want.sort(key=lambda x: (-x[1], x[0]))
    assert got == want[:10] and got


def test_cross_field_conjunction(fidx, fcorpus):
    """+title:fast +stream — one doc-range kernel sees BOTH fields'
    postings (the one-pass build invariant)."""
    per_doc, _ = fcorpus
    tterm = "title" + FIELD_SEP + fidx._terms("fast")[0]
    bterm = fidx._terms("stream")[0]
    want = {d for d, c in per_doc.items() if tterm in c and bterm in c}
    got = {d for d, _ in _rows(fidx.query("+title:fast +stream",
                                          k=10_000))}
    assert got == want and got


def test_field_scoped_expansion_and_group(fidx, fcorpus):
    per_doc, _ = fcorpus
    got = {d for d, _ in _rows(fidx.query("+title:fas*", k=10_000))}
    want = {d for d, c in per_doc.items()
            if any(t.startswith("title" + FIELD_SEP + "fas")
                   for t in c)}
    assert got == want and got
    grouped = {d for d, _ in
               _rows(fidx.query("+title:(fast OR merge)", k=10_000))}
    t1 = "title" + FIELD_SEP + fidx._terms("fast")[0]
    t2 = "title" + FIELD_SEP + fidx._terms("merge")[0]
    want_g = {d for d, c in per_doc.items() if t1 in c or t2 in c}
    assert grouped == want_g and grouped


def test_multifield_save_load_roundtrip(fidx, spark, tmp_path):
    p = str(tmp_path / "fidx")
    fidx.save(p)
    loaded = FulltextIndex.load(spark, p)
    assert loaded.fields == ["body", "title"]
    assert loaded.field_avgdl == fidx.field_avgdl
    assert _rows(loaded.query("+title:fast +stream", k=8)) \
        == _rows(fidx.query("+title:fast +stream", k=8))


def test_query_many_bit_identical_and_one_job(idx, monkeypatch):
    """query_many == per-query query() bit-for-bit, with ONE expansion
    job and ONE kernel job for the whole set."""
    import php_lucene_analyzer_spark.operators.fulltext as ftmod

    queries = {
        "a": "(fast OR merge) AND stream",
        "b": "window order sort -fast",
        "c": "stram~ mer*",
        "d": "fast^2 [merge TO order]",
    }
    want = {qid: _rows(idx.query(q, k=8)) for qid, q in queries.items()}
    calls = []
    real = ftmod.expand_specs

    def counting(*a, **kw):
        calls.append(len(a[1]))
        return real(*a, **kw)

    monkeypatch.setattr(ftmod, "expand_specs", counting)
    rows = idx.query_many(queries, k=8).collect()
    got = {}
    for r in rows:
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid in queries:
        got[qid].sort(key=lambda x: (-x[1], x[0]))
        assert got[qid] == want[qid] and got[qid], qid
    assert len(calls) == 1 and calls[0] == 3  # fuzzy + prefix + range


def test_query_many_phrases_need_positional(idx):
    """Phrase clauses in query_many are supported (r5) but still
    require a positional index — a term-only index raises."""
    with pytest.raises(ValueError):
        idx.query_many({"p": '+"fast merge" value'})


def test_multifield_unfielded_query_mode(fidx, fcorpus):
    """multifield=True (MultiFieldQueryParser role): an unfielded term
    matches ANY field's variant and each variant scores with its own
    field's stats — verified against the independent tree oracle."""
    from php_lucene_analyzer_spark.operators.fulltext import expand_specs
    from php_lucene_analyzer_spark.querycompile import compile_query
    from php_lucene_analyzer_spark.queryparser import parse_query

    per_doc, fld_len = fcorpus
    n = fidx.n_docs
    dls_by_field = {
        "body": fld_len["body"], "title": fld_len["title"]}

    def avgdl_of(t):
        f = t.split(FIELD_SEP, 1)[0] if FIELD_SEP in t else "body"
        return fidx.field_avgdl[f]

    # per-doc dl depends on the TERM's field — adapt the oracle's dls
    # by making them a function via a wrapper dict keyed per call:
    class _DL(dict):
        pass

    for q, msm in (("+fast stream", 0), ("fast AND merge", 0),
                   ("window order -slow", 1)):
        plan = compile_query(parse_query(q), fidx._terms, "body",
                             msm, 64, known_fields={"body", "title"},
                             all_fields=["body", "title"])
        exp = expand_specs(fidx.tstats, plan.specs,
                           default_field="body") if plan.specs else []
        tree, inst = plan.finalize(exp)
        # independent evaluation with per-field dl
        from tests.test_query_tree import _tree_oracle  # self-import ok
        # _tree_oracle uses dls[d] — per-field dl needs a custom loop:
        all_docs = set(per_doc)

        def match(node):
            if node[0] == "leaf":
                return {d for d in all_docs
                        if any(t in per_doc[d] for t in node[2])}
            _, must, should, nots, m_ = node
            cand = None
            for c in must:
                mm = match(c)
                cand = mm if cand is None else cand & mm
            sh = [match(c) for c in should]
            if cand is None:
                u = set().union(*sh) if sh else set()
                cand = u if m_ <= 1 else {
                    d for d in u if sum(d in s for s in sh) >= m_}
            elif m_:
                cand = {d for d in cand
                        if sum(d in s for s in sh) >= m_}
            for c in nots:
                cand = cand - match(c)
            return cand

        effs = {}

        def walk(node, eff):
            mm = match(node) & eff
            if node[0] == "leaf":
                effs[node[1]] = mm
                return
            for c in node[1] + node[2]:
                walk(c, mm)

        cand = match(tree)
        walk(tree, cand)
        dfm = {t: sum(1 for c in per_doc.values() if t in c)
               for t, _, _ in inst}
        scores = {d: 0.0 for d in cand}
        for t, w, lid in inst:
            if not dfm[t]:
                continue
            wf = w * ft.idf(n, dfm[t])
            av = avgdl_of(t)
            fldname = t.split(FIELD_SEP, 1)[0] if FIELD_SEP in t \
                else "body"
            for d in effs.get(lid, ()):
                if t in per_doc[d]:
                    tf = per_doc[d][t]
                    dl = dls_by_field[fldname][d]
                    scores[d] += (wf * (tf * (ft.K1 + 1.0))
                                  / (tf + ft.K1 * (1.0 - ft.B
                                                   + ft.B * dl / av)))
        want = sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:10]
        got = _rows(fidx.query(q, k=10, msm=msm, multifield=True))
        assert got == want and got, q
    # a doc matching ONLY in title is found without a field prefix
    tonly = {d for d, c in per_doc.items()
             if ("title" + FIELD_SEP + fidx._terms("fast")[0]) in c}
    found = {d for d, _ in
             _rows(fidx.query("fast", k=10_000, multifield=True))}
    assert tonly <= found and tonly


# ------------------------------------------------------- phrase leaves
@pytest.fixture(scope="module")
def pidx(spark, docs):
    i = FulltextIndex.build(spark, docs.select("doc_id", "text"),
                            ["doc_id"], text_col="text", positional=True)
    yield i
    i.close()


@pytest.fixture(scope="module")
def pfidx(spark, fdocs):
    i = FulltextIndex.build(spark, fdocs, ["doc_id"],
                            fields=["body", "title"], positional=True)
    yield i
    i.close()


def _phrase_pool(docs, rng, n):
    """``n`` adjacent word pairs/triples taken from the corpus texts."""
    texts = [r["text"].split() for r in
             docs.select("text").orderBy("doc_id").collect()
             if r["text"] and len(r["text"].split()) >= 3]
    out = set()
    while len(out) < n:
        ws = rng.choice(texts)
        w = rng.choice([2, 2, 3])
        i = rng.randrange(len(ws) - w + 1)
        out.add(" ".join(ws[i:i + w]))
    return sorted(out)


def _phrase_queries(rng, pool, n, field=None):
    """Seeded phrase-bearing query strings: top-level MUST/SHOULD/
    MUST_NOT phrases, nested phrases (up to 6), sloppy phrases."""
    terms = ["fast", "merge", "join", "stream", "value", "slow", "window",
             "order", "batch", "spark", "customer"]
    fp = f"{field}:" if field else ""

    def P():
        s = f'{fp}"{rng.choice(pool)}"'
        return s + (f"~{rng.randint(1, 3)}" if rng.random() < .3 else "")

    def T():
        return rng.choice(terms)

    shapes = [
        lambda: f"{P()} {T()}",
        lambda: f"+{P()} {T()} {T()}",
        lambda: f"+{P()} +{T()} -{P()}",
        lambda: f"{T()} {T()} -{P()}",
        lambda: f"{P()} {P()} {T()}^2",
        lambda: f"({T()} OR {P()}) AND {T()} {P()}",
        lambda: f"+({P()} OR {P()}) {T()}",
        lambda: f"({T()} AND NOT {P()}) {P()}",
        lambda: " ".join(f"({P()} OR {T()})"
                         for _ in range(rng.randint(4, 6))),
        lambda: f"(NOT {T()} {P()}) {T()}",
        lambda: f"{P()}^0.5 -{T()} ({T()} OR ({P()} AND {T()}))",
    ]
    return [rng.choice(shapes)() for _ in range(n)]


def _phrase_expected(idx, per_doc, dls, avgdl_of, q, k, msm, slop_mode,
                     cache, default_field=None):
    """The oracle answer of a phrase-bearing query: the engine's own
    compiler (pure metadata), phrase leaf match sets from phrase_match,
    every other piece independent."""
    from php_lucene_analyzer_spark.operators.fulltext import expand_specs
    from php_lucene_analyzer_spark.operators.positional import phrase_match
    from php_lucene_analyzer_spark.querycompile import compile_query
    from php_lucene_analyzer_spark.queryparser import parse_query
    from php_lucene_analyzer_spark.queryparser import Bool
    known = set(idx.fields) if idx.fields else set()
    ast = parse_query(q)
    plan = compile_query(ast, idx._terms, default_field, msm, 64,
                         known_fields=known)
    exp = expand_specs(idx.tstats, plan.specs,
                       default_field=default_field) if plan.specs else []
    tree, inst = plan.finalize(exp)
    pdocs = []
    for text, slop, fld in plan.phrases:
        key = (text, slop, fld, slop_mode)
        if key not in cache:
            cache[key] = {r["doc_id"]: r["n_matches"] for r in
                          phrase_match(idx.positional, text, slop=slop,
                                       field=fld, slop_mode=slop_mode)
                          .collect()}
        pdocs.append(cache[key])
    boosts = []         # phrase leaf j's boost: j counts atoms in AST order

    def walk(node):
        for _occ, c in node.clauses:
            if isinstance(c, Bool):
                walk(c)
            elif c.kind == "phrase":
                boosts.append(c.boost)

    walk(ast)
    scored = []         # the root's MUST and SHOULD phrase children score
    for j in sorted(c[1] for c in tree[1] + tree[2] if c[0] == "phrase"):
        boost = boosts[j]
        text, _slop, fld = plan.phrases[j]
        ts = [f"{fld}{FIELD_SEP}{t}" if fld else t
              for t in idx._terms(text)]
        dfm = {t: sum(1 for c in per_doc.values() if t in c) for t in ts}
        scored.append((j, boost * sum(ft.idf(idx.n_docs, dfm[t])
                                      for t in ts if dfm[t])))
    return _tree_oracle(tree, inst, per_doc, dls, idx.n_docs, avgdl_of, k,
                        phrase_docs=pdocs, scored=scored)


@pytest.mark.parametrize("msm,slop_mode", [(0, "lucene"), (1, "lucene"),
                                           (2, "span"), (0, "span")])
def test_phrase_leaves_match_oracle(pidx, corpus, docs, msm, slop_mode):
    """Seeded phrase-bearing queries through query() AND query_many ==
    the tree oracle with phrase_match leaf sets, bit for bit."""
    import random
    per_doc, dls = corpus
    rng = random.Random(1000 + 10 * msm + len(slop_mode))
    pool = _phrase_pool(docs, rng, 10)
    qs = _phrase_queries(rng, pool, 8)
    cache: dict = {}
    want = {f"q{i}": _phrase_expected(pidx, per_doc, dls,
                                      lambda t: pidx.avgdl, q, 15, msm,
                                      slop_mode, cache)
            for i, q in enumerate(qs)}
    assert sum(bool(w) for w in want.values()) >= (3 if msm > 1 else 6)
    for i, q in enumerate(qs):
        got = _rows(pidx.query(q, k=15, msm=msm, slop_mode=slop_mode))
        assert got == want[f"q{i}"], q
    got = {qid: [] for qid in want}
    for r in pidx.query_many({f"q{i}": q for i, q in enumerate(qs)}, k=15,
                             msm=msm, slop_mode=slop_mode).collect():
        got[r["qid"]].append((r["doc_id"], r["score"]))
    for qid in want:
        got[qid].sort(key=lambda x: (-x[1], x[0]))
        assert got[qid] == want[qid], qid


def test_field_phrase_leaves_match_oracle(pfidx, fcorpus, fdocs):
    """``title:"…"`` phrase leaves on the two-field index, through
    query() and query_many, == the oracle bit for bit (bare terms score
    on the default field's dl and avgdl)."""
    import random
    per_doc, fld_len = fcorpus
    rng = random.Random(77)
    titles = fdocs.select(F.col("title").alias("text"), "doc_id")
    pool = _phrase_pool(titles, rng, 8)
    qs = _phrase_queries(rng, pool, 8, field="title")
    cache: dict = {}
    av = pfidx.field_avgdl["body"]
    want = {f"q{i}": _phrase_expected(pfidx, per_doc, fld_len["body"],
                                      lambda t: av, q, 15, 0, "lucene",
                                      cache, default_field="body")
            for i, q in enumerate(qs)}
    assert sum(bool(w) for w in want.values()) >= 6
    for i, q in enumerate(qs):
        assert _rows(pfidx.query(q, k=15)) == want[f"q{i}"], q
    got = {qid: [] for qid in want}
    for r in pfidx.query_many({f"q{i}": q for i, q in enumerate(qs)},
                              k=15).collect():
        got[r["qid"]].append((r["doc_id"], r["score"]))
    for qid in want:
        got[qid].sort(key=lambda x: (-x[1], x[0]))
        assert got[qid] == want[qid], qid


def test_msm_counts_with_must_phrase(pidx, docs):
    """'+"<phrase>" a b' with msm=1: the MUST phrase is the required
    clause and at least one SHOULD term must match (Lucene
    minimumShouldMatch) — the relational phrase fold used to drop msm
    here and return every phrase doc."""
    phrase = " ".join(docs.filter("doc_id = 0").first()["text"]
                      .split()[1:3])
    pdocs = {r["doc_id"] for r in pidx.phrase(phrase).collect()}
    a_docs = {r["doc_id"] for r in pidx.search("customer", k=10_000)
              .collect()}
    got = {d for d, _ in _rows(pidx.query(f'+"{phrase}" customer',
                                          k=10_000, msm=1))}
    assert got == pdocs & a_docs
    assert pdocs - a_docs, "vacuous: every phrase doc has the term"
