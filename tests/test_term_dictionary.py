"""The driver-resident term dictionary of FulltextIndex: driver-side
expansion returns exactly the Spark expand_specs lists, the collect
fallback above TERM_DICT_CAP answers exactly as the resident path, a
warm single query on a loaded index runs one Spark job (a phrase query
and a query_many batch with phrase queries too: each set is scored on
the driver, operators/boolean.py::DRIVER_POSTINGS_CAP), a query with
regex clauses one more for their expansion however many it has, and an
empty answer none."""

import random
import time

import pytest

import php_lucene_analyzer_spark.engine as engmod
from php_lucene_analyzer_spark.analysis import analyze
from php_lucene_analyzer_spark.engine import FulltextIndex
from php_lucene_analyzer_spark.operators.fulltext import (
    FIELD_SEP, OversizedExpansion, TermDictionary, _levenshtein,
    expand_specs)

BARE = ["s", "st", "stra", "stram", "strem", "stream", "streams",
        "streamer", "strasse", "straße", "strase", "merge", "merger",
        "mergesort", "mer", "m", "n", "naive", "naïve", "nave", "o",
        "title", "titles", "value", "values", "valve", "zz", "中",
        "中文", "中文字", "日本", "日本語", "日本人", "ümlaut", "umlaut",
        "𝔘nicode", "unicode", "😀smile", "smile", "smiles"]
TITLE = ["stream", "stram", "straße", "merge", "中文", "日本語", "naïve",
         "value", "zz", "t"]


def _lev_ref(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_levenshtein_equals_reference_dp():
    """The NumPy DP == the textbook loop over code points (capped at
    d + 1), astral and CJK characters included."""
    rng = random.Random(3)
    alphabet = "abcß中文😀𝔘"
    for _ in range(2000):
        q = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 6)))
        terms = ["".join(rng.choice(alphabet)
                         for _ in range(rng.randint(0, 7)))
                 for _ in range(6)]
        d = rng.randint(0, 4)
        assert list(_levenshtein(q, terms, d)) == \
            [min(_lev_ref(q, t), d + 1) for t in terms], (q, terms, d)


@pytest.fixture(scope="module")
def vocab(spark):
    rows = [(t, 1 + (i * 7) % 5) for i, t in enumerate(BARE)] + \
        [(f"title{FIELD_SEP}{t}", 1 + (i * 3) % 4)
         for i, t in enumerate(TITLE)]
    tstats = spark.createDataFrame([(t, df, 2 * df) for t, df in rows],
                                   "term string, df long, cf long")
    return tstats, TermDictionary(rows)


SPECS = [
    {"kind": "prefix", "value": "str", "field": None, "cap": None},
    {"kind": "prefix", "value": "str", "field": "title", "cap": None},
    {"kind": "prefix", "value": "中", "field": None, "cap": None},
    {"kind": "prefix", "value": "s", "field": None, "cap": 3},
    {"kind": "prefix", "value": "", "field": "title", "cap": 4},
    {"kind": "fuzzy", "value": "stream", "edits": 1, "field": None,
     "cap": None},
    {"kind": "fuzzy", "value": "stream", "edits": 2, "prefix_len": 3,
     "field": None, "cap": None},
    {"kind": "fuzzy", "value": "stram", "edits": 2, "field": "title",
     "cap": None},
    {"kind": "fuzzy", "value": "strase", "edits": 1, "field": None,
     "cap": None},
    {"kind": "fuzzy", "value": "naive", "edits": 1, "field": None,
     "cap": 2},
    {"kind": "fuzzy", "value": "中文", "edits": 1, "field": None,
     "cap": None},
    {"kind": "fuzzy", "value": "日本", "edits": 1, "prefix_len": 1,
     "field": "title", "cap": None},
    {"kind": "fuzzy", "value": "smile", "edits": 1, "field": None,
     "cap": None},
    {"kind": "range", "lo": "m", "hi": "s", "incl_lo": True,
     "incl_hi": True, "field": None, "cap": None},
    {"kind": "range", "lo": "merge", "hi": "stream", "incl_lo": False,
     "incl_hi": False, "field": None, "cap": None},
    {"kind": "range", "lo": None, "hi": "n", "incl_hi": False,
     "field": None, "cap": 5},
    {"kind": "range", "lo": "s", "hi": None, "field": None, "cap": None},
    {"kind": "range", "lo": None, "hi": None, "field": "title",
     "cap": None},
    {"kind": "range", "lo": "n", "hi": "o", "field": "title",
     "cap": None},
    {"kind": "range", "lo": "中", "hi": "日本語", "field": None,
     "cap": None},
    {"kind": "range", "lo": "umlaut", "hi": "𝔘", "field": None,
     "cap": None},
    {"kind": "regex", "value": "st.*m", "field": None, "cap": None},
]


@pytest.mark.parametrize("default_field", [None, "body"])
def test_driver_expansion_equals_spark(vocab, default_field):
    tstats, tdict = vocab
    want = expand_specs(tstats, SPECS, default_field=default_field)
    got = expand_specs(tstats, SPECS, default_field=default_field,
                       tdict=tdict)
    assert got == want
    assert all(want[:3]) and all(want[5:9])


def test_driver_expansion_equals_spark_random(vocab):
    """Random prefix/fuzzy/range specs over the vocabulary's own
    substrings, all in one call."""
    tstats, tdict = vocab
    rng = random.Random(7)
    words = BARE + TITLE
    specs = []
    for _ in range(80):
        w = rng.choice(words)
        fld = rng.choice([None, None, "title"])
        cap = rng.choice([None, None, 1, 3])
        kind = rng.choice(["prefix", "fuzzy", "range"])
        if kind == "prefix":
            specs.append({"kind": kind, "value": w[:rng.randint(0, 3)],
                          "field": fld, "cap": cap})
        elif kind == "fuzzy":
            specs.append({"kind": kind, "value": w,
                          "edits": rng.randint(0, 2),
                          "prefix_len": rng.choice([0, 0, 1, 2]),
                          "field": fld, "cap": cap})
        else:
            lo, hi = sorted([rng.choice(words), rng.choice(words)])
            specs.append({"kind": kind,
                          "lo": rng.choice([lo, lo[:1], None]),
                          "hi": rng.choice([hi, hi[:1], None]),
                          "incl_lo": rng.random() < 0.5,
                          "incl_hi": rng.random() < 0.5,
                          "field": fld, "cap": cap})
    want = expand_specs(tstats, specs)
    assert expand_specs(tstats, specs, tdict=tdict) == want
    assert sum(map(len, want)) > 80


def test_driver_oversized_negative_equals_spark(vocab):
    """An uncapped root negative over neg_collect_max becomes an
    OversizedExpansion on both paths, with the same match set."""
    tstats, tdict = vocab
    specs = [{"kind": "prefix", "value": "s", "field": None, "cap": None},
             {"kind": "fuzzy", "value": "stream", "edits": 2,
              "field": None, "cap": None},
             {"kind": "range", "lo": "m", "hi": "n", "field": None,
              "cap": None},
             {"kind": "prefix", "value": "s", "field": None, "cap": 2}]
    kw = dict(neg_collect_max=3, neg_docset_sids={0, 1, 3})
    want = expand_specs(tstats, specs, **kw)
    got = expand_specs(tstats, specs, tdict=tdict, **kw)
    for w, g in zip(want, got):
        assert type(w) is type(g)
        if isinstance(w, OversizedExpansion):
            assert (g.sid, g.n_terms) == (w.sid, w.n_terms)
            assert sorted(r["term"] for r in g.terms_df.collect()) \
                == sorted(r["term"] for r in w.terms_df.collect())
        else:
            assert g == w
    assert [type(x).__name__ for x in got] == [
        "OversizedExpansion", "OversizedExpansion", "list", "list"]


# ------------------------------------------------- loaded-index paths
@pytest.fixture(scope="module")
def saved(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dict") / "idx")
    with FulltextIndex.build(spark, docs.select("doc_id", "text"),
                             ["doc_id"], text_col="text",
                             positional=True) as idx:
        idx.save(path)
    return path


def _rows(df):
    return [tuple(r) for r in df.collect()]


def _forms(idx, docs):
    d = idx._dictionary()
    a, b, c = sorted((t for t in d.terms if t.isalpha() and len(t) > 3),
                     key=lambda t: (-d.df[t], t))[:3]
    toks = next(ts for ts in ([t.term for t in analyze(r["text"] or "")
                               if t.pos_inc > 0]
                              for r in docs.select("text").collect())
                if len(ts) >= 2)
    return [f"+{a} {b} -{c}", f"{a} AND {b}", f"{a} OR {b} OR {c}",
            f"{a[:3]}* {b}", f"{a}~1 {b}", f'"{toks[0]} {toks[1]}" {a}']


def test_collect_fallback_answers_as_resident(spark, docs, saved,
                                              monkeypatch):
    resident = FulltextIndex.load(spark, saved)
    assert resident._dictionary() is not None
    monkeypatch.setattr(engmod, "TERM_DICT_CAP", 0)
    fallback = FulltextIndex.load(spark, saved)
    assert fallback._dictionary() is None
    forms = _forms(resident, docs)
    text = docs.filter("doc_id = 3").first()["text"]
    calls = [
        *[(lambda i, q=q: i.query(q, k=20)) for q in forms],
        lambda i: i.search(" ".join(forms[2].split(" OR ")), k=20),
        lambda i: i.search_fuzzy("stram strem", k=20),
        lambda i: i.search_fuzzy("stram strem", k=20, scoring="lucene"),
        lambda i: i.search_prefix("s", k=20, max_expansions=8),
        lambda i: i.more_like_this(text, k=20, max_terms=6),
        lambda i: i.suggest("stram", k=4),
        lambda i: i.search_many({f"q{j}": q for j, q in
                                 enumerate(forms[:3])}, k=20),
        lambda i: i.query_many({f"q{j}": q for j, q in enumerate(forms)},
                               k=20),
    ]
    for call in calls:
        want = _rows(call(fallback))
        got = _rows(call(resident))
        assert sorted(got) == sorted(want) and got, call
    assert resident.stats()["n_terms"] == fallback.stats()["n_terms"] \
        == len(resident._dictionary())


def _jobs(sc, gid, fn) -> int:
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    n, deadline = -1, time.time() + 5
    while time.time() < deadline:   # job events arrive asynchronously
        m = len(tracker.getJobIdsForGroup(gid))
        if m == n:
            break
        n = m
        time.sleep(0.5)
    return n


def test_single_query_jobs(spark, docs, saved):
    idx = FulltextIndex.load(spark, saved)
    sc = spark.sparkContext
    forms = _forms(idx, docs)
    a, b = forms[1].split(" AND ")
    idx.search(f"{b} {a}").collect()                  # warm-up
    n_search = _jobs(sc, "dict-search", lambda: idx.search(f"{a} {b}")
                     .collect())
    n_prefix = _jobs(sc, "dict-prefix", lambda: idx.query(forms[3])
                     .collect())
    assert n_search == 1
    assert n_prefix == 1


def test_phrase_query_jobs(spark, docs, saved):
    """Phrase leaves run inside the tree kernel: a warm '"p q" a'
    query() and a 6-query query_many with two phrase queries launch no
    separate positional job (the relational phrase fold ran 6 and 9);
    the one job collects the set's postings and positional rows."""
    idx = FulltextIndex.load(spark, saved)
    sc = spark.sparkContext
    forms = _forms(idx, docs)
    idx.query(forms[5]).collect()                     # warm-up
    n_phrase = _jobs(sc, "dict-phrase", lambda: idx.query(forms[5])
                     .collect())
    batch = {f"q{j}": q for j, q in enumerate(forms)}
    batch["q0"] = "+" + forms[5]
    n_many = _jobs(sc, "dict-many", lambda: idx.query_many(batch)
                   .collect())
    assert n_phrase == 1
    assert n_many == 1


def test_regex_clauses_share_one_expansion_job(spark, docs, saved,
                                               monkeypatch):
    """With the dictionary resident, one capped regex clause expands
    through a TakeOrderedAndProject, and two collect uncapped in one
    Spark job and cap on the driver (df descending, term ascending):
    two capped regex clauses cost no more jobs than one (a
    spec-partitioned cap window cost one more), and answer as the Spark
    path's cap window does."""
    idx = FulltextIndex.load(spark, saved)
    sc = spark.sparkContext
    a, b = _forms(idx, docs)[1].split(" AND ")
    one, two = f"/{a[0]}.*/ {b}", f"/{a[0]}.*/ /{b[0]}.*/"
    idx.query(one).collect()                          # warm-up
    n_one = _jobs(sc, "regex-one", lambda: idx.query(one).collect())
    n_two = _jobs(sc, "regex-two", lambda: idx.query(two).collect())
    assert n_one == n_two == 2
    want = [_rows(idx.query(q, k=20, max_expansions=2)) for q in (one, two)]
    monkeypatch.setattr(engmod, "TERM_DICT_CAP", 0)
    fallback = FulltextIndex.load(spark, saved)
    assert fallback._dictionary() is None
    assert [_rows(fallback.query(q, k=20, max_expansions=2))
            for q in (one, two)] == want
    assert all(want)


def test_empty_answers_run_no_job(spark, saved):
    """A query() with no positive clause and an all-stopword search()
    answer with a zero-row plan the optimizer folds away: building and
    collecting either launches no Spark job (a bare createDataFrame([])
    answer ran one) and keeps the (doc_id, score) schema."""
    idx = FulltextIndex.load(spark, saved)
    sc = spark.sparkContext
    idx.search("stream value").collect()              # warm-up
    for gid, call in (("empty-neg", lambda: idx.query("-value")),
                      ("empty-stop", lambda: idx.search("the and of"))):
        got = []
        assert _jobs(sc, gid, lambda: got.append(call())) == 0, gid
        df = got[0]
        assert _jobs(sc, gid + "-collect", lambda: got.append(
            df.collect())) == 0, gid
        assert got[1] == []
        assert df.schema.simpleString() == \
            "struct<doc_id:bigint,score:double>"


def test_loaded_tstats_cached_and_released(spark, saved, monkeypatch,
                                           tmp_path):
    """load() leaves ``tstats`` uncached (below TERM_DICT_CAP it is read
    once, by the dictionary collect); above the cap the first dictionary
    read caches it (every df lookup and expansion then reads it) and
    close() releases it."""
    import shutil

    from pyspark import StorageLevel
    monkeypatch.setattr(engmod, "TERM_DICT_CAP", 0)
    # a private copy: Spark's cache is keyed by plan, so another open
    # index over ``saved`` would show as cached here
    path = str(tmp_path / "copy")
    shutil.copytree(saved, path)
    idx = FulltextIndex.load(spark, path)
    assert idx.tstats.storageLevel == StorageLevel.NONE
    assert idx._dictionary() is None
    assert idx.tstats.storageLevel != StorageLevel.NONE
    assert idx.query("stream value", k=5).count()
    idx.close()
    assert idx.tstats.storageLevel == StorageLevel.NONE
