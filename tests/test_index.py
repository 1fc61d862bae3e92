"""Index correctness (SURVEY.md §5.4-5.5): brute-force pandas BM25 oracle ==
DataFrame engine == block-max WAND (two bucket layouts), including exact
float equality and rank identity at different parallelism levels."""

import math
from collections import Counter

import pandas as pd
import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.analysis import analyze
from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.postings import (
    corpus_stats_from_postings, index_corpus, term_stats_from_postings)
from php_lucene_analyzer_spark.operators.wand import wand_topk

QUERIES = [
    "fast merge join",
    "window order sort",
    "the spark stream",
    "vector column batch data",
    "dup",
]


@pytest.fixture(scope="module")
def index(spark, docs):
    tdf = ft.term_doc_freqs(docs, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    # five doc-range partitions so multiple rbuckets exist at 500 docs
    postings = index_corpus(docs.repartitionByRange(5, "doc_id"),
                            "doc_id", "text").cache()
    assert postings.select("rbucket").distinct().count() == 5
    return dict(tdf=tdf, n=n, avgdl=avgdl, tstats=tstats, postings=postings)


@pytest.fixture(scope="module")
def fused_index(spark, docs):
    """The single-pass path: range-partitioned docs -> index_corpus."""
    with_ids = ft.with_doc_ids(
        docs.select(F.col("doc_id").alias("orig_id"), "text"),
        ["orig_id"], partitions=5)
    # orig doc_id is already dense 0..N-1 sorted -> ids coincide
    postings = index_corpus(with_ids, "doc_id", "text").cache()
    n = postings.agg(F.max("last_doc")).collect()[0][0] + 1
    avgdl = corpus_stats_from_postings(postings, n)
    tstats = term_stats_from_postings(postings).cache()
    return dict(n=n, avgdl=avgdl, tstats=tstats, postings=postings)


def _pandas_bm25_oracle(docs_pdf: pd.DataFrame, query: str, k: int = 10):
    """Brute-force reference: pure pandas, no Spark. Same analyzer chain."""
    k1, b = ft.K1, ft.B
    per_doc = {}
    dls = {}
    for _, row in docs_pdf.iterrows():
        toks = analyze(row["text"])
        per_doc[row["doc_id"]] = Counter(t.term for t in toks)
        dls[row["doc_id"]] = len(toks)
    n = len(per_doc)
    avgdl = sum(dls.values()) / n
    qterms = sorted({t.term for t in analyze(query)})
    df = {t: sum(1 for c in per_doc.values() if t in c) for t in qterms}
    scores = {}
    for d, counts in per_doc.items():
        s = 0.0
        for t in qterms:  # term-asc order: the engine's float contract
            if t in counts and df[t]:
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                tf = float(counts[t])
                s += (idf * (tf * (k1 + 1.0))
                      / (tf + k1 * (1.0 - b + b * dls[d] / avgdl)))
        if s > 0.0:
            scores[d] = s
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return top


@pytest.mark.parametrize("query", QUERIES)
def test_exhaustive_bm25_matches_pandas_oracle(spark, docs, index, query):
    got = ft.bm25_topk(index["tdf"], index["tstats"], index["n"],
                       index["avgdl"], query).collect()
    want = _pandas_bm25_oracle(docs.toPandas(), query)
    assert [(r["doc_id"], r["score"]) for r in got] == want


@pytest.mark.parametrize("query", QUERIES)
def test_wand_matches_exhaustive_bit_identical(spark, index, query):
    exh = ft.bm25_topk(index["tdf"], index["tstats"], index["n"],
                       index["avgdl"], query).collect()
    wnd = wand_topk(index["postings"], index["tstats"], index["n"],
                    index["avgdl"], query).collect()
    assert [(r["doc_id"], r["score"]) for r in wnd] \
        == [(r["doc_id"], r["score"]) for r in exh]


@pytest.mark.parametrize("query", QUERIES)
def test_fused_build_wand_matches_exhaustive(spark, index, fused_index, query):
    """Both index_corpus layouts (5 range buckets, with_doc_ids
    segments) == exhaustive."""
    assert fused_index["n"] == index["n"]
    assert fused_index["avgdl"] == index["avgdl"]
    exh = ft.bm25_topk(index["tdf"], index["tstats"], index["n"],
                       index["avgdl"], query).collect()
    wnd = wand_topk(fused_index["postings"], fused_index["tstats"],
                    fused_index["n"], fused_index["avgdl"], query).collect()
    assert [(r["doc_id"], r["score"]) for r in wnd] \
        == [(r["doc_id"], r["score"]) for r in exh]


def test_term_stats_same_both_paths(index, fused_index):
    a = {r["term"]: (r["df"], r["cf"])
         for r in term_stats_from_postings(index["postings"]).collect()}
    b = {r["term"]: (r["df"], r["cf"])
         for r in fused_index["tstats"].collect()}
    c = {r["term"]: (r["df"], r["cf"]) for r in index["tstats"].collect()}
    assert a == b == c


def test_doc_ids_deterministic_across_partitioning(spark, docs):
    a = ft.with_doc_ids(docs.repartition(7), ["doc_id"], partitions=3)
    b = ft.with_doc_ids(docs.repartition(2), ["doc_id"], partitions=5)
    got_a = sorted((r["doc_id"],) for r in a.select("doc_id").collect())
    got_b = sorted((r["doc_id"],) for r in b.select("doc_id").collect())
    assert got_a == got_b
    n = docs.count()
    assert got_a == [(i,) for i in range(n)]


def test_rank_identity_across_parallelism(spark, docs):
    """Same query, different shuffle partitioning AND input partitioning ->
    identical (doc, score) lists (the N vs 4N cluster-size contract).
    shuffle_partitions is a RUNTIME conf, mutated in place (getOrCreate
    would silently ignore a builder-level change)."""
    original = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for parts, in_parts in ((2, 3), (8, 11)):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            d = docs.repartition(in_parts)
            tdf = ft.term_doc_freqs(d, "doc_id", "text")
            n, avgdl = ft.corpus_stats(tdf)
            tstats = ft.term_stats(tdf)
            got = ft.bm25_topk(tdf, tstats, n, avgdl, QUERIES[0]).collect()
            results.append([(r["doc_id"], r["score"]) for r in got])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    assert results[0] == results[1]


def test_postings_roundtrip_covers_all_docs(spark, index):
    """Decoded postings == the (doc,term,tf) stream they were built from."""
    from php_lucene_analyzer_spark.functions.codec import (
        delta_decode, vbyte_decode)

    term = index["tstats"].orderBy(F.desc("df")).first()["term"]
    rows = index["postings"].filter(F.col("term") == term).collect()
    docs_decoded = []
    for r in sorted(rows, key=lambda r: (r["rbucket"], r["block_no"])):
        docs_decoded.extend(
            delta_decode(vbyte_decode(bytes(r["doc_blob"]))).tolist())
    expected = [r["doc_id"] for r in index["tdf"]
                .filter(F.col("term") == term).orderBy("doc_id").collect()]
    assert docs_decoded == expected
    assert docs_decoded == sorted(docs_decoded)


def test_adversarial_skew_term(spark):
    """A term present in EVERY doc with high tf (the Zipf worst case):
    both build paths stay correct, blocks stay bounded at BLOCK_SIZE, and
    no single group ever holds the full posting list in the fused path."""
    import pandas as pd

    from php_lucene_analyzer_spark.operators.postings import (
        BLOCK_SIZE, corpus_stats_from_postings, index_corpus,
        term_stats_from_postings)
    from php_lucene_analyzer_spark.operators.wand import wand_topk
    from php_lucene_analyzer_spark.plans import key_skew_report, suggest_salt

    n = 600
    rows = [(i, "hot " * 20 + f"rare{i} filler{i % 7}") for i in range(n)]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ranged = docs.repartitionByRange(6, "doc_id")
    postings = index_corpus(ranged, "doc_id", "text").cache()
    tstats = term_stats_from_postings(postings)
    hot = {r["term"]: (r["df"], r["cf"]) for r in tstats.collect()}["hot"]
    assert hot == (n, 20 * n)
    # the hot term's rows are spread across all buckets; every block <= 128
    hot_rows = postings.filter(F.col("term") == "hot").collect()
    assert len({r["rbucket"] for r in hot_rows}) == 6
    assert all(r["n"] <= BLOCK_SIZE for r in hot_rows)
    # queries over the skewed index still work and rank rare > hot-only
    avgdl = corpus_stats_from_postings(postings, n)
    top = wand_topk(postings, tstats, n, avgdl, "hot rare5", k=3).collect()
    assert top[0]["doc_id"] == 5  # the doc containing rare5
    # the skew advisor sees the hot key and prescribes a salt
    from php_lucene_analyzer_spark.operators.fulltext import term_doc_freqs
    tdf = term_doc_freqs(docs, "doc_id", "text")
    rep = key_skew_report(tdf, "term")
    # 'hot' and the WDGF-split 'filler' both sit in every doc (df=600)
    assert "hot" in {k for k, _ in rep["top"][:3]}
    assert suggest_salt(rep, target_rows_per_task=100) >= 6


def test_wand_topk_many_matches_per_query(spark, index):
    from php_lucene_analyzer_spark.operators.wand import (
        wand_topk, wand_topk_many)

    qset = {f"q{i}": q for i, q in enumerate(QUERIES)}
    batched = wand_topk_many(index["postings"], index["tstats"], index["n"],
                             index["avgdl"], qset).collect()
    by_qid = {}
    for r in batched:
        by_qid.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
    for qid, q in qset.items():
        single = [(r["doc_id"], r["score"]) for r in
                  wand_topk(index["postings"], index["tstats"], index["n"],
                            index["avgdl"], q).collect()]
        got = sorted(by_qid.get(qid, []), key=lambda t: (-t[1], t[0]))
        assert got == single, qid


def test_high_vocabulary_corpus(spark):
    """Vocabulary stress: ~30k unique identifiers over 3k docs (10 uniq/doc)
    — exercises the sort/dedup paths that a tiny Zipf vocab hides."""
    import hashlib

    import pandas as pd

    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, index_corpus, term_dict_from_postings)
    from php_lucene_analyzer_spark.operators.wand import wand_topk

    def uid(i, j):
        return "id" + hashlib.blake2b(f"{i}:{j}".encode(),
                                      digest_size=6).hexdigest()

    n = 3000
    rows = [(i, " ".join(uid(i, j) for j in range(10)) + " shared anchor")
            for i in range(n)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]))
    postings = index_corpus(docs.repartitionByRange(6, "doc_id"),
                            "doc_id", "text").cache()
    tdict = term_dict_from_postings(postings).cache()
    vocab = tdict.count()
    assert vocab >= n * 10  # every unique id is a term
    # dense sorted ids
    import pyspark.sql.functions as F2
    head = tdict.orderBy("term_id").limit(3).collect()
    assert [r["term_id"] for r in head] == [1, 2, 3]
    assert head[0]["term"] <= head[1]["term"] <= head[2]["term"]
    # a rare unique token retrieves exactly its doc, ranked above anchors
    avgdl = corpus_stats_from_postings(postings, n)
    target = uid(1234, 5)
    top = wand_topk(postings, tdict, n, avgdl,
                    f"{target} anchor", k=3).collect()
    assert top[0]["doc_id"] == 1234


def _count_decoded_rows(monkeypatch):
    """Spy on the kernel's one decoder -> the list of row counts of its
    decode_postings calls."""
    import php_lucene_analyzer_spark.operators.boolean as Bo

    calls = []
    orig = Bo.decode_postings

    def spy(rows):
        calls.append(len(rows["term"]))
        return orig(rows)

    monkeypatch.setattr(Bo, "decode_postings", spy)
    return calls


def _flat_topk(pdf, entries, k, avgdl):
    """One flat disjunction through the per-bucket path -> [(doc, score)]."""
    import php_lucene_analyzer_spark.operators.boolean as Bo
    import php_lucene_analyzer_spark.operators.wand as W

    tree, inst = Bo._should_tree(entries)
    inst = [(t, w, avgdl, i) for t, w, i in inst]
    got = Bo._bucket_topk(pdf, {"q": tree}, {"q": inst},
                          {"q": sorted({t for t, _ in entries})}, {"q": k},
                          W.K1, W.B)
    return list(zip(got["doc_id"].tolist(), got["score"].tolist()))


def test_wand_cursor_lazy_block_decode(monkeypatch):
    """Block-max skipping happens on metadata: windows whose bound is
    strictly below θ decode no block.  One term over 4 full blocks, the
    giants in block 3: round 1 decodes block 3, its 10th best is θ, and
    the other three blocks bound below it, so they stay encoded."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.postings import _block_rows

    n = 128 * 4  # 4 full blocks, consecutive doc ids
    tfs = np.full(n, 2, dtype=np.uint64)
    tfs[128 * 3:128 * 3 + 20] = 9
    pdf = _block_rows(["t"], np.array([0, n], dtype=np.int64),
                      np.arange(n, dtype=np.uint64), tfs,
                      np.full(n, 50, dtype=np.uint64), rbucket=0)
    assert len(pdf) == 4
    calls = _count_decoded_rows(monkeypatch)
    got = _flat_topk(pdf, [("t", 1.0)], 10, 50.0)
    assert calls == [1]                          # block 3 alone
    assert [d for d, _s in got] == list(range(128 * 3, 128 * 3 + 10))


def test_wand_semijoin_term_fetch_identical(spark, index, docs,
                                            monkeypatch):
    """Past _ISIN_MAX the term predicate becomes a broadcast semi-join
    (large batched query sets / prefix expansions) — results must be
    bit-identical to the isin path, for every scan that starts from a
    term set: WAND, query() (postings and phrase positions in one
    pass), phrase_match_many and first_match."""
    import php_lucene_analyzer_spark.operators.postings as P
    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.operators.positional import (
        first_match, phrase_match_many)

    postings, tstats = index["postings"], index["tstats"]
    n, avgdl = index["n"], index["avgdl"]
    q = "stream merge join window"
    pidx = FulltextIndex.build(spark, docs.select("doc_id", "text"),
                               ["doc_id"], text_col="text", positional=True)
    phrases = {"p0": ("fast merge", 0), "p1": ("stream window", 2)}
    calls = [
        lambda: wand_topk(postings, tstats, n, avgdl, q, k=10),
        lambda: pidx.query('+stream merge -window "fast merge"', k=10),
        lambda: phrase_match_many(pidx.positional, phrases),
        lambda: first_match(pidx.positional, pidx._terms(q)),
    ]
    want = [sorted(c().collect()) for c in calls]
    monkeypatch.setattr(P, "_ISIN_MAX", 0)
    got = [sorted(c().collect()) for c in calls]
    pidx.close()
    assert got == want and all(want)


def test_chunked_resumable_index_wand_matches_exhaustive(spark, tmp_path):
    """WAND over a chunked (resumable) index == exhaustive DataFrame
    scorer — guards the cross-chunk block ordering (chunks are separate
    index_corpus runs whose rbucket numbering is only globally unique by
    convention; correctness must not depend on it)."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.lineage import (
        ResumableIndexBuild)
    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, term_stats_from_postings)

    docs = synthetic_corpus(spark, 400, partitions=4)
    build = ResumableIndexBuild(spark, str(tmp_path / "idx"),
                                chunk_docs=100)
    postings = build.run(docs, ["repo", "path"]).cache()
    assert postings.select("chunk").distinct().count() == 4  # multi-chunk
    ids = spark.read.parquet(build.ids_path).cache()
    tdf = ft.term_doc_freqs(ids, "doc_id", "content").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = term_stats_from_postings(postings)
    for q in ("parseToken buildIndex", "merge stream", "index"):
        got = wand_topk(postings, tstats, n, avgdl, q, k=10).collect()
        want = ft.bm25_topk(tdf, ft.term_stats(tdf), n, avgdl, q,
                            k=10).collect()
        assert got == want and got


def test_colliding_rbuckets_still_correct(spark):
    """Two doc-disjoint segments indexed with the SAME rbucket numbering
    (the pre-fix chunked layout): WAND must still equal the exhaustive
    scorer because the per-bucket path orders a term's blocks by
    first_doc, not rbucket."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.postings import (
        term_stats_from_postings)

    docs = synthetic_corpus(spark, 300, partitions=3)
    ids = ft.with_doc_ids(docs, ["repo", "path"]).cache()
    lo = ids.filter("doc_id < 150").repartitionByRange(2, "doc_id")
    hi = ids.filter("doc_id >= 150").repartitionByRange(2, "doc_id")
    # materialize each segment on its own so TaskContext partition ids
    # restart at 0 for both (a union would renumber across legs)
    p_lo = index_corpus(lo, "doc_id", "content").cache()
    p_hi = index_corpus(hi, "doc_id", "content").cache()
    p_lo.count(), p_hi.count()
    p = p_lo.union(p_hi).cache()
    # the collision actually exists: some rbucket spans both halves
    spans = (p.groupBy("rbucket")
             .agg(F.min("first_doc").alias("lo"), F.max("last_doc").alias("hi"))
             .collect())
    assert any(r["lo"] < 150 <= r["hi"] for r in spans)
    tdf = ft.term_doc_freqs(ids, "doc_id", "content").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = term_stats_from_postings(p)
    for q in ("parseToken buildIndex", "merge stream"):
        got = wand_topk(p, tstats, n, avgdl, q, k=10).collect()
        want = ft.bm25_topk(tdf, ft.term_stats(tdf), n, avgdl, q,
                            k=10).collect()
        assert got == want and got


def test_single_term_impact_ordered_early_stop(monkeypatch):
    """A single skewed term over 40 blocks prunes in the per-bucket path:
    it decodes fewer blocks than it holds, and the answer equals a
    brute-force evaluation of every posting."""
    import numpy as np

    import php_lucene_analyzer_spark.operators.wand as W
    from php_lucene_analyzer_spark.operators.postings import _block_rows

    rng = np.random.default_rng(3)
    n = 128 * 40
    docs_a = np.arange(n, dtype=np.uint64)
    # skewed tf: one early block holds the giants -> later bounds are low
    tfs = rng.integers(1, 4, size=n).astype(np.uint64)
    tfs[200:210] = 50
    dls = np.full(n, 60, dtype=np.uint64)
    pdf = _block_rows(["t"], np.array([0, n], dtype=np.int64),
                      docs_a, tfs, dls, rbucket=0)
    assert len(pdf) == 40

    calls = _count_decoded_rows(monkeypatch)
    got = _flat_topk(pdf, [("t", 2.0)], 10, 60.0)
    assert sum(calls) < 40, "block-max skipping never triggered"

    # brute force over every posting with the same expression
    k1, b = W.K1, W.B
    scores = (2.0 * (tfs.astype(np.float64) * (k1 + 1.0))
              / (tfs.astype(np.float64)
                 + k1 * (1.0 - b + b * 60.0 / 60.0)))
    order = np.lexsort((docs_a.astype(np.int64), -scores))[:10]
    assert got == [(int(docs_a[i]), float(scores[i])) for i in order]


def test_incremental_flush_identical_index(spark):
    """index_corpus with a tiny flush budget (many flushes per partition,
    bounded accumulator — VERDICT r1 item 3) must produce the same term
    stats and bit-identical WAND results as the single-flush build, even
    when rows arrive doc-UNSORTED within a partition."""
    import pandas as pd

    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, index_corpus, term_stats_from_postings)
    from php_lucene_analyzer_spark.operators.wand import wand_topk

    n = 400
    rows = [(i, f"alpha beta{i % 11} gamma{i % 3} delta epsilon{i % 7}")
            for i in range(n)]
    # deliberately doc-unsorted within the single partition
    rows = rows[1::2] + rows[0::2]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])).coalesce(1)
    small = index_corpus(docs, "doc_id", "text", flush_postings=60).cache()
    big = index_corpus(docs, "doc_id", "text").cache()
    assert small.select("rbucket").distinct().count() > 3
    assert big.select("rbucket").distinct().count() == 1
    ts_s = {tuple(r) for r in term_stats_from_postings(small).collect()}
    ts_b = {tuple(r) for r in term_stats_from_postings(big).collect()}
    assert ts_s == ts_b
    avgdl = corpus_stats_from_postings(big, n)
    for q in ("alpha beta5", "delta epsilon3 gamma1"):
        a = wand_topk(small, term_stats_from_postings(small), n, avgdl,
                      q, k=10).collect()
        b = wand_topk(big, term_stats_from_postings(big), n, avgdl,
                      q, k=10).collect()
        assert a == b and a
    small.unpersist()
    big.unpersist()


def test_single_term_kernel_tie_break_at_k_boundary():
    """A single term's top-k cut must resolve score ties at the k
    boundary by doc_id asc — including ties that straddle BLOCK
    boundaries, where every window bounds exactly θ."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.postings import _block_rows

    n = 1200
    docs = np.arange(n, dtype=np.uint64)
    tfs = np.full(n, 3, dtype=np.uint64)     # all scores identical
    dls = np.full(n, 40, dtype=np.uint64)
    pdf = _block_rows(["t"], np.array([0, n], dtype=np.int64),
                      docs, tfs, dls, 0)
    got = _flat_topk(pdf, [("t", 1.5)], 10, 40.0)
    assert [d for d, _s in got] == list(range(10))


def test_dense_kernel_tie_break_at_k_boundary():
    """Ties straddling the k boundary must resolve by doc_id asc for a
    flat disjunction whose postings cover its bucket too (argpartition
    alone picks arbitrary tie members)."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.postings import _block_rows

    n = 1200
    docs = np.tile(np.arange(n, dtype=np.uint64), 2)
    tfs = np.full(2 * n, 3, dtype=np.uint64)     # all scores identical
    dls = np.full(2 * n, 40, dtype=np.uint64)
    pdf = _block_rows(["s", "t"], np.array([0, n, 2 * n], dtype=np.int64),
                      docs, tfs, dls, 0)
    got = _flat_topk(pdf, [("s", 1.5), ("t", 1.5)], 10, 40.0)
    assert [d for d, _s in got] == list(range(10))


@pytest.mark.slow
def test_wand_bit_identity_at_bench_scale(spark):
    """VERDICT r1 item 10: WAND == exhaustive == pure-pandas oracle on the
    BENCH corpus (sf0.1 documents, 5k docs), not just the sf0.001/0.01
    fixtures — full chain, bit-identical (doc_id, score) lists."""
    docs01 = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet").cache()
    tdf = ft.term_doc_freqs(docs01, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    postings = index_corpus(docs01.repartitionByRange(5, "doc_id"),
                            "doc_id", "text").cache()
    assert postings.select("rbucket").distinct().count() == 5
    pdf = docs01.toPandas()
    for query in ("fast merge join order", "the spark stream batch",
                  "window sort vector"):
        exh = ft.bm25_topk(tdf, tstats, n, avgdl, query).collect()
        wnd = wand_topk(postings, tstats, n, avgdl, query).collect()
        want = _pandas_bm25_oracle(pdf, query)
        assert [(r["doc_id"], r["score"]) for r in wnd] \
            == [(r["doc_id"], r["score"]) for r in exh] == want
    for df in (docs01, tdf, tstats, postings):
        df.unpersist()
