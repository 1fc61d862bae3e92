"""Segment compaction (operators/postings.py::compact_postings — the
TieredMergePolicy role): bit-identical query results over a rebuilt
physical layout, Σ-preserved stats, and real fragmentation reduction."""

import pytest

import numpy as np
import pyspark.sql.functions as F

from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.postings import (
    BLOCK_SIZE, compact_postings, index_corpus, term_stats_from_postings)
from php_lucene_analyzer_spark.operators.wand import wand_topk

QUERIES = ["fast merge join", "window order sort", "dup", "the spark stream"]


@pytest.fixture(scope="module")
def fragmented(spark, docs):
    """Heavily fragmented build: 20 doc-range partitions of 25 docs ->
    20 buckets, most blocks holding a handful of docs."""
    tdf = ft.term_doc_freqs(docs, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    postings = index_corpus(docs.repartitionByRange(20, "doc_id"),
                            "doc_id", "text").cache()
    assert postings.select("rbucket").distinct().count() == 20
    return dict(n=n, avgdl=avgdl, tstats=tstats, postings=postings)


@pytest.fixture(scope="module")
def compacted(fragmented):
    return compact_postings(fragmented["postings"]).cache()


def test_compaction_reduces_fragmentation(fragmented, compacted):
    before = fragmented["postings"]
    n_buckets_before = before.select("rbucket").distinct().count()
    n_buckets_after = compacted.select("rbucket").distinct().count()
    assert n_buckets_after < n_buckets_before
    assert n_buckets_after == 1  # 500 docs fit one target group
    # physical rows shrink; logical postings are identical
    assert compacted.count() < before.count()
    assert compacted.agg(F.sum("n")).collect()[0][0] \
        == before.agg(F.sum("n")).collect()[0][0]
    assert compacted.agg(F.max("n")).collect()[0][0] <= BLOCK_SIZE


def test_compaction_preserves_term_stats(fragmented, compacted):
    a = {r["term"]: (r["df"], r["cf"])
         for r in term_stats_from_postings(fragmented["postings"]).collect()}
    b = {r["term"]: (r["df"], r["cf"])
         for r in term_stats_from_postings(compacted).collect()}
    assert a == b


@pytest.mark.parametrize("query", QUERIES)
def test_wand_bit_identical_after_compaction(fragmented, compacted, query):
    f = fragmented
    a = wand_topk(f["postings"], f["tstats"], f["n"], f["avgdl"],
                  query).collect()
    b = wand_topk(compacted, f["tstats"], f["n"], f["avgdl"],
                  query).collect()
    assert [(r["doc_id"], r["score"]) for r in a] \
        == [(r["doc_id"], r["score"]) for r in b]


def test_compaction_is_stable(fragmented, compacted):
    """Compacting a compact index changes nothing material."""
    again = compact_postings(compacted)
    assert again.agg(F.sum("n")).collect()[0][0] \
        == compacted.agg(F.sum("n")).collect()[0][0]
    assert again.count() == compacted.count()


def test_positional_compaction_bit_identical(spark, docs):
    """compact_positional: phrase_match + first_match identical over a
    fragmented positional build collapsed into one bucket."""
    import re

    from php_lucene_analyzer_spark.operators.positional import (
        compact_positional, first_match, phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    sub = docs.filter("doc_id < 200").select("doc_id", "text")
    pos = positional_postings(sub.repartitionByRange(8, "doc_id"),
                              "doc_id", "text",
                              terms_fn=simple_terms).cache()
    comp = compact_positional(pos).cache()
    assert comp.select("rbucket").distinct().count() \
        < pos.select("rbucket").distinct().count()
    # phrases drawn from the data so matches exist by construction
    t0 = simple_terms(sub.filter("doc_id = 0").collect()[0]["text"])
    for phrase in (" ".join(t0[:2]), " ".join(t0[:3])):
        a = [(r["doc_id"], r["n_matches"]) for r in
             phrase_match(pos, phrase, terms_fn=simple_terms).collect()]
        b = [(r["doc_id"], r["n_matches"]) for r in
             phrase_match(comp, phrase, terms_fn=simple_terms).collect()]
        assert a == b and a
    fa = sorted((r["doc_id"], r["first_pos"])
                for r in first_match(pos, ["stream", "value"]).collect())
    fb = sorted((r["doc_id"], r["first_pos"])
                for r in first_match(comp, ["stream", "value"]).collect())
    assert fa == fb and fa
    pos.unpersist()
    comp.unpersist()


def test_facade_compact_covers_positional_and_caches_tstats(spark, docs):
    """FulltextIndex.compact() must compact the positional layout too
    and hand back CACHED term stats (queries must not re-aggregate the
    postings per call)."""
    from pyspark import StorageLevel

    from php_lucene_analyzer_spark.engine import FulltextIndex

    sub = docs.filter("doc_id < 80").select("doc_id", "text")
    idx = FulltextIndex.build(spark, sub, ["doc_id"], text_col="text",
                              positional=True)
    a = [(r["doc_id"], r["score"]) for r in idx.search("fast value").collect()]
    pa = sorted((r["doc_id"], r["n_matches"])
                for r in idx.phrase("fast value").collect())
    c = idx.compact()
    assert c.positional is not None
    assert c.tstats.storageLevel != StorageLevel.NONE
    b = [(r["doc_id"], r["score"]) for r in c.search("fast value").collect()]
    pb = sorted((r["doc_id"], r["n_matches"])
                for r in c.phrase("fast value").collect())
    assert a == b
    assert pa == pb
    c.close()
    idx.close()


def test_facade_compact_keeps_fields(spark, docs):
    """A compacted MULTI-FIELD index answers ``field:`` queries exactly
    as the original: compact() carries the fields, their avgdl and an
    already-read term dictionary over."""
    from php_lucene_analyzer_spark.analysis import analyze
    from php_lucene_analyzer_spark.engine import FulltextIndex

    sub = docs.filter("doc_id < 120").select(
        "doc_id",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 4)).alias("title"),
        F.col("text").alias("body"))
    idx = FulltextIndex.build(spark, sub, ["doc_id"],
                              fields=["body", "title"])
    title = next(t.term for r in sub.collect()
                 for t in analyze(r["title"] or ""))
    tdict = idx._dictionary()
    c = idx.compact()
    assert (c.fields, c.field_avgdl) == (idx.fields, idx.field_avgdl)
    assert c._dictionary() is tdict
    for q in (f"title:{title} stream", f"+title:{title}",
              f"title:{title[:2]}* value"):
        want = [tuple(r) for r in idx.query(q, k=20).collect()]
        assert [tuple(r) for r in c.query(q, k=20).collect()] == want
        assert want, q
    c.close()
    idx.close()


def test_compact_interleaved_doc_ranges(spark, docs):
    """Buckets are doc-SET disjoint, not doc-RANGE disjoint: two flushes
    of one doc-UNORDERED partition interleave doc ranges (index_corpus
    explicitly tolerates unordered partition input).  Compaction must
    re-sort each term's concatenated postings — first_doc-ordered
    concatenation alone is non-monotonic here and the uint64 gap encode
    would silently wrap, corrupting WAND results (round-3 ADVICE)."""
    from php_lucene_analyzer_spark.operators.postings import index_corpus

    sub = (docs.filter("doc_id < 120").select("doc_id", "text")
           .coalesce(1)
           .sortWithinPartitions(F.hash("doc_id")))  # scrambled doc order
    frag = index_corpus(sub, "doc_id", "text", flush_postings=300).cache()
    ext = (frag.groupBy("rbucket")
           .agg(F.min("first_doc").alias("lo"),
                F.max("last_doc").alias("hi"))
           .orderBy("lo").collect())
    # precondition: the hazardous layout actually occurred
    assert len(ext) > 1
    assert any(prev["hi"] > cur["lo"] for prev, cur in zip(ext, ext[1:]))
    tstats = term_stats_from_postings(frag).cache()
    n = 120
    avgdl = float(frag.agg(F.sum("sum_tf")).collect()[0][0]) / n
    comp = compact_postings(frag).cache()
    sa = {r["term"]: (r["df"], r["cf"])
          for r in term_stats_from_postings(comp).collect()}
    sb = {r["term"]: (r["df"], r["cf"]) for r in tstats.collect()}
    assert sa == sb
    for query in QUERIES:
        a = wand_topk(frag, tstats, n, avgdl, query).collect()
        b = wand_topk(comp, tstats, n, avgdl, query).collect()
        assert [(r["doc_id"], r["score"]) for r in a] \
            == [(r["doc_id"], r["score"]) for r in b]
    frag.unpersist(); tstats.unpersist(); comp.unpersist()


def test_compact_positional_interleaved_doc_ranges(spark, docs):
    """Same hazard for the positional layout: interleaved bucket doc
    ranges must be re-sorted (docs AND per-doc position slices gathered
    along) before re-encoding."""
    import re

    from php_lucene_analyzer_spark.operators.positional import (
        compact_positional, phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    sub = (docs.filter("doc_id < 120").select("doc_id", "text")
           .coalesce(1)
           .sortWithinPartitions(F.hash("doc_id")))
    frag = positional_postings(sub, "doc_id", "text",
                               terms_fn=simple_terms,
                               flush_positions=300).cache()
    ext = (frag.groupBy("rbucket")
           .agg(F.min("first_doc").alias("lo"),
                F.max("last_doc").alias("hi"))
           .orderBy("lo").collect())
    assert len(ext) > 1
    assert any(prev["hi"] > cur["lo"] for prev, cur in zip(ext, ext[1:]))
    comp = compact_positional(frag).cache()
    t0 = simple_terms(docs.filter("doc_id = 0").collect()[0]["text"])
    for phrase in (" ".join(t0[:2]), " ".join(t0[:3])):
        a = sorted((r["doc_id"], r["n_matches"]) for r in
                   phrase_match(frag, phrase, terms_fn=simple_terms)
                   .collect())
        b = sorted((r["doc_id"], r["n_matches"]) for r in
                   phrase_match(comp, phrase, terms_fn=simple_terms)
                   .collect())
        assert a == b and a
    frag.unpersist(); comp.unpersist()


def test_small_target_packs_multiple_groups(fragmented):
    """A small target yields multiple doc-disjoint groups in range
    order."""
    cp = compact_postings(fragmented["postings"], target_postings=2000)
    ext = (cp.groupBy("rbucket")
           .agg(F.min("first_doc").alias("lo"),
                F.max("last_doc").alias("hi"))
           .orderBy("lo").collect())
    assert len(ext) > 1
    for prev, cur in zip(ext, ext[1:]):
        assert prev["hi"] < cur["lo"]  # disjoint, ordered ranges
