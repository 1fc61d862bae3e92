"""Where a query set is scored (operators/boolean.py::_tree_set): below
DRIVER_POSTINGS_CAP postings, on the driver from one JVM-only collect
of its block rows; at or above it, and with a doc-set exclusion, in one
grouped applyInPandas pass.  Every caller of the plan answers bit for
bit the same on both branches, on every index layout; a set below the
cap launches no Python worker task."""

import pytest

import pyspark.sql.functions as F

import php_lucene_analyzer_spark.operators.boolean as Bo
from php_lucene_analyzer_spark.engine import FulltextIndex
from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.boolean import (
    boolean_topk, boolean_tree_topk, boolean_tree_topk_many)
from php_lucene_analyzer_spark.operators.postings import (
    _index_blocks, _split_blocks, corpus_stats_from_postings, index_corpus,
    term_stats_from_postings)
from php_lucene_analyzer_spark.operators.wand import (
    prefix_topk, wand_topk, wand_topk_many, wand_topk_terms)

DEFAULT_CAP = Bo.DRIVER_POSTINGS_CAP


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _both(monkeypatch, call) -> list:
    """call()'s rows on the grouped branch (cap 0), which must plan the
    grouped pass, and on the driver branch (the default cap), which
    must answer from a local relation -> [grouped, driver] row lists."""
    out = []
    for cap in (0, DEFAULT_CAP):
        monkeypatch.setattr(Bo, "DRIVER_POSTINGS_CAP", cap)
        df = call()
        plan = _plan(df)
        if cap:
            assert "LocalTableScan" in plan and "Python" not in plan, plan
        else:
            assert "FlatMapGroupsInPandas" in plan, plan
        out.append([tuple(r) for r in df.collect()])
    return out


def _same(monkeypatch, call, ordered: bool = True):
    grouped, driver = _both(monkeypatch, call)
    if not ordered:             # a set's per-qid window has no row order
        grouped, driver = sorted(grouped), sorted(driver)
    assert driver == grouped
    assert driver
    return driver


@pytest.fixture(scope="module")
def pidx(spark, docs):
    """A positional index over 3 doc-range partitions (3 rbuckets),
    from the facade's own builder."""
    sub = docs.select("doc_id", "text")
    blocks = _index_blocks(sub.repartitionByRange(3, "doc_id"), "doc_id",
                           ["text"], positions=True).cache()
    postings, pos = _split_blocks(blocks)
    tstats = term_stats_from_postings(postings).cache()
    n = sub.count()
    idx = FulltextIndex(spark, postings, tstats, n,
                        corpus_stats_from_postings(postings, n), None, pos)
    assert postings.select("rbucket").distinct().count() == 3
    yield idx
    blocks.unpersist()
    tstats.unpersist()


def _phrase(docs, doc_id=3) -> str:
    return " ".join(docs.filter(f"doc_id = {doc_id}").first()["text"]
                    .split()[1:3])


QUERIES = ["stream value", "+stream +value", "+stream value -merge",
           "stream value merge join", "(stream OR value) AND (merge OR join)",
           "+(stream value) -(fast OR slow)", "str* valu~1", "/m.*/ join"]


def test_query_callers_both_branches(pidx, docs, monkeypatch):
    """query() and query_many() over phrases, MUST, NOT, msm > 1 and
    nested trees, at several k."""
    p = _phrase(docs)
    qs = QUERIES + [f'"{p}" stream', f'+"{p}"', f'stream -"{p}"',
                    f'(value OR "{p}") AND stream']
    for q in qs:
        for k in (1, 10):
            _same(monkeypatch, lambda: pidx.query(q, k=k))
    for q in ("stream value merge join", f'stream value "{p}"'):
        _same(monkeypatch, lambda: pidx.query(q, k=10, msm=2))
    _same(monkeypatch,
          lambda: pidx.query_many({f"q{i}": q for i, q in enumerate(qs)},
                                  k=7), ordered=False)


def test_search_callers_both_branches(pidx, docs, monkeypatch):
    text = docs.filter("doc_id = 5").first()["text"]
    calls = [
        lambda: pidx.search("stream value merge", k=10),
        lambda: pidx.search_prefix("s", k=10, max_expansions=8),
        lambda: pidx.search_fuzzy("stram valeu", k=10),
        lambda: pidx.search_regex("m.*", k=10),
        lambda: pidx.search_boolean(must=["stream"], should=["value",
                                    "merge", "join"], msm=2, k=10),
        lambda: pidx.more_like_this(text, k=5, max_terms=6, exclude_doc=5),
    ]
    for call in calls:
        _same(monkeypatch, call)
    _same(monkeypatch, lambda: pidx.search_many(
        {"a": "stream value", "b": "merge", "c": "join fast"}, k=5),
        ordered=False)


def test_negative_weights_both_branches(pidx, monkeypatch):
    """search_fuzzy(scoring="lucene") down-weights each matched term by
    its edit distance (1 - dist / min(len) reaches 0 and below for short
    terms), and wand_topk_terms takes explicit negative clause weights:
    such sets keep every row per bucket on both branches."""
    short = " ".join(sorted(t for t in pidx._dictionary().terms
                            if t.isalpha() and len(t) <= 3)[:4])
    for q in ("stram strem", f"{short} valeu"):
        _same(monkeypatch, lambda: pidx.search_fuzzy(q, k=10,
                                                     scoring="lucene"))
    _same(monkeypatch, lambda: wand_topk_terms(
        pidx.postings, pidx.tstats, pidx.n_docs, pidx.avgdl, None, 10,
        term_boosts=[("stream", -0.5), ("valu", 0.0), ("valu", 2.0)]))


def test_operator_callers_both_branches(spark, docs, pidx, monkeypatch):
    """The wand_* and boolean_* entries, k=None full match sets
    included, over a stored (parquet) index."""
    postings, tstats = pidx.postings, pidx.tstats
    n, avgdl = pidx.n_docs, pidx.avgdl
    tree = ("node",
            (("node", (), (("leaf", 0, ("fast",)), ("leaf", 1, ("merg",))),
              (), 1),),
            (("leaf", 2, ("stream",)),), (("leaf", 3, ("join",)),), 0)
    inst = [("fast", 1.0, 0), ("merg", 2.0, 1), ("stream", 1.0, 2)]
    calls = [
        lambda: wand_topk(postings, tstats, n, avgdl, "stream value", 10),
        lambda: wand_topk_terms(postings, tstats, n, avgdl,
                                ["merg", "stream"], 10),
        lambda: prefix_topk(postings, tstats, n, avgdl, "st", 10, 5),
        lambda: boolean_topk(postings, tstats, n, avgdl, must=["stream"],
                             should=["valu", "merg"], must_not=["join"],
                             k=10),
        lambda: boolean_tree_topk(postings, tstats, n, avgdl, tree, inst,
                                  10),
    ]
    for call in calls:
        _same(monkeypatch, call)
    full = _same(monkeypatch, lambda: boolean_tree_topk(
        postings, tstats, n, avgdl, tree, inst, None), ordered=False)
    assert len(full) > 10
    _same(monkeypatch, lambda: wand_topk_many(
        postings, tstats, n, avgdl, {"a": "stream value", "b": "merge"},
        5), ordered=False)
    _same(monkeypatch, lambda: boolean_tree_topk_many(
        postings, tstats, n, avgdl, {"t": tree, "u": tree},
        {"t": inst, "u": inst[:1]}, None), ordered=False)


def test_multi_field_avgdl_both_branches(spark, docs, monkeypatch):
    sub = docs.filter("doc_id < 200").select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4)).alias("title"),
        F.col("text").alias("body"))
    idx = FulltextIndex.build(spark, sub, ["doc_id"],
                              fields=["body", "title"], positional=True)
    try:
        assert idx.field_avgdl["body"] != idx.field_avgdl["title"]
        for q in ("title:stream value", "+title:stream body:value",
                  'title:"parse token" stream', "title:str* merge"):
            _same(monkeypatch, lambda: idx.query(q, k=10))
        _same(monkeypatch, lambda: idx.query("stream value", k=10,
                                             multifield=True))
    finally:
        idx.close()


def test_oversized_expansion_stays_grouped(pidx, monkeypatch):
    """A root NOT expansion over neg_collect_max anti-joins a doc set:
    that set runs the grouped pass whatever its size, and answers as the
    term-list exclusion does on the driver."""
    q = "value -s*"       # s* matches many terms
    doc_set = pidx.query(q, k=10, neg_collect_max=5)
    assert "FlatMapGroupsInPandas" in _plan(doc_set)
    assert "LeftAnti" in _plan(doc_set)
    got = [tuple(r) for r in doc_set.collect()]
    term_list = pidx.query(q, k=10)
    assert "LocalTableScan" in _plan(term_list)
    assert got == [tuple(r) for r in term_list.collect()] and got
    both = pidx.query_many({"a": q, "b": "stream"}, k=10, neg_collect_max=5)
    assert "FlatMapGroupsInPandas" in _plan(both)
    assert sorted(tuple(r) for r in both.collect()) == sorted(
        [("a",) + r for r in got]
        + [("b",) + tuple(r) for r in pidx.query("stream", k=10).collect()])


def test_cap_boundary(pidx, monkeypatch):
    """A set of exactly DRIVER_POSTINGS_CAP postings (Σ df of its terms)
    runs grouped; one below it, on the driver."""
    d = pidx._dictionary()
    size = d.df["stream"] + d.df["valu"]
    for cap, where in ((size, "FlatMapGroupsInPandas"),
                       (size + 1, "LocalTableScan")):
        monkeypatch.setattr(Bo, "DRIVER_POSTINGS_CAP", cap)
        assert where in _plan(pidx.search("stream value"))


def test_driver_branch_runs_no_python_task(spark, pidx, docs, monkeypatch,
                                           tmp_path):
    """With the Python worker executable missing, every set below the
    cap still answers (it starts no Python worker), and the same set on
    the grouped branch fails.  Past _ISIN_MAX terms the pruned scan's
    broadcast term table is a local relation, which needs no worker
    either."""
    from php_lucene_analyzer_spark.operators.postings import (
        _ISIN_MAX, _filter_terms)

    p = _phrase(docs)
    many = ["stream"] + [f"absent{i}" for i in range(_ISIN_MAX + 1)]
    calls = [lambda: pidx.search("stream value"),
             lambda: pidx.query(f'+"{p}" stream -merge'),
             lambda: pidx.query_many({"a": "str*", "b": f'"{p}"'}),
             lambda: _filter_terms(pidx.postings, many).select("term")]
    want = [c().collect() for c in calls]
    assert all(want)
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "pythonExec", str(tmp_path / "no-python"))
    assert [c().collect() for c in calls] == want
    monkeypatch.setattr(Bo, "DRIVER_POSTINGS_CAP", 0)
    with pytest.raises(Exception, match="no-python"):
        calls[0]().collect()


def _wand_layout_same(monkeypatch, postings, tstats, n, avgdl):
    for q in ("parseToken buildIndex", "merge stream", "index"):
        _same(monkeypatch, lambda: wand_topk(postings, tstats, n, avgdl, q,
                                             k=10))
    _same(monkeypatch, lambda: wand_topk_many(
        postings, tstats, n, avgdl, {"a": "merge stream", "b": "index"},
        k=10), ordered=False)


def test_chunked_build_both_branches(spark, tmp_path, monkeypatch):
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.lineage import (
        ResumableIndexBuild)

    docs = synthetic_corpus(spark, 400, partitions=4)
    build = ResumableIndexBuild(spark, str(tmp_path / "idx"),
                                chunk_docs=100)
    postings = build.run(docs, ["repo", "path"]).cache()
    assert postings.select("chunk").distinct().count() == 4
    n = spark.read.parquet(build.ids_path).count()
    _wand_layout_same(monkeypatch, postings,
                      term_stats_from_postings(postings), n,
                      corpus_stats_from_postings(postings, n))
    postings.unpersist()


def test_colliding_rbuckets_both_branches(spark, monkeypatch):
    """Two doc-disjoint segments with the same rbucket numbering: the
    driver groups by rbucket like the grouped pass, so both see a
    colliding bucket as one bucket."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus

    ids = ft.with_doc_ids(synthetic_corpus(spark, 300, partitions=3),
                          ["repo", "path"]).cache()
    p_lo = index_corpus(ids.filter("doc_id < 150").repartitionByRange(
        2, "doc_id"), "doc_id", "content").cache()
    p_hi = index_corpus(ids.filter("doc_id >= 150").repartitionByRange(
        2, "doc_id"), "doc_id", "content").cache()
    p_lo.count(), p_hi.count()
    p = p_lo.union(p_hi).cache()
    spans = (p.groupBy("rbucket")
             .agg(F.min("first_doc").alias("lo"),
                  F.max("last_doc").alias("hi")).collect())
    assert any(r["lo"] < 150 <= r["hi"] for r in spans)
    _wand_layout_same(monkeypatch, p, term_stats_from_postings(p), 300,
                      corpus_stats_from_postings(p, 300))
    for df in (p, p_lo, p_hi, ids):
        df.unpersist()


def test_compacted_index_both_branches(pidx, docs, monkeypatch):
    c = pidx.compact()
    try:
        p = _phrase(docs)
        for q in ("stream value", f'"{p}" merge', "+stream -value"):
            assert _same(monkeypatch, lambda: c.query(q, k=10)) == \
                [tuple(r) for r in pidx.query(q, k=10).collect()]
    finally:
        c.close()


def test_streaming_segments_both_branches(spark, tmp_path, monkeypatch):
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.streaming.incremental import (
        read_streamed_postings, stream_index)

    d = str(tmp_path)
    docs = synthetic_corpus(spark, 120, partitions=2)
    docs.filter(F.col("lang") == "java").write.parquet(d + "/in/b1")
    docs.filter(F.col("lang") == "py").write.parquet(d + "/in/b2")
    q = stream_index(spark, d + "/in/*", d + "/seg", d + "/ckpt",
                     positional_dir=d + "/pos")
    q.awaitTermination(120)
    postings = read_streamed_postings(spark, d + "/seg")
    pos = read_streamed_postings(spark, d + "/pos")
    n = docs.filter(F.col("lang").isin("java", "py")).count()
    idx = FulltextIndex(spark, postings, term_stats_from_postings(postings),
                        n, corpus_stats_from_postings(postings, n), None,
                        pos)
    for q in ("parse token index", '"parse token" merge', "+index -stream"):
        _same(monkeypatch, lambda: idx.query(q, k=10))
