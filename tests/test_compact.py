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


def _both_tables(sub, **kw):
    """(blocks, postings, positional) of one cached positional builder
    pass over ``sub`` (doc_id, text)."""
    from php_lucene_analyzer_spark.operators.postings import (
        _index_blocks, _split_blocks)
    blocks = _index_blocks(sub, "doc_id", ["text"], positions=True,
                           **kw).cache()
    return (blocks, *_split_blocks(blocks))


def test_positional_compaction_bit_identical(spark, docs):
    """compact_index: phrase_match + first_match identical over a
    fragmented positional build collapsed into one bucket."""
    import re

    from php_lucene_analyzer_spark.operators.positional import (
        compact_index, first_match, phrase_match)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    sub = docs.filter("doc_id < 200").select("doc_id", "text")
    blocks, post, pos = _both_tables(sub.repartitionByRange(8, "doc_id"),
                                     terms_fn=simple_terms)
    comp = compact_index(post, pos)[1].cache()
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
    blocks.unpersist()
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
        compact_index, phrase_match)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    sub = (docs.filter("doc_id < 120").select("doc_id", "text")
           .coalesce(1)
           .sortWithinPartitions(F.hash("doc_id")))
    blocks, post, frag = _both_tables(sub, terms_fn=simple_terms,
                                      flush_tokens=300)
    ext = (frag.groupBy("rbucket")
           .agg(F.min("first_doc").alias("lo"),
                F.max("last_doc").alias("hi"))
           .orderBy("lo").collect())
    assert len(ext) > 1
    assert any(prev["hi"] > cur["lo"] for prev, cur in zip(ext, ext[1:]))
    comp = compact_index(post, frag)[1].cache()
    t0 = simple_terms(docs.filter("doc_id = 0").collect()[0]["text"])
    for phrase in (" ".join(t0[:2]), " ".join(t0[:3])):
        a = sorted((r["doc_id"], r["n_matches"]) for r in
                   phrase_match(frag, phrase, terms_fn=simple_terms)
                   .collect())
        b = sorted((r["doc_id"], r["n_matches"]) for r in
                   phrase_match(comp, phrase, terms_fn=simple_terms)
                   .collect())
        assert a == b and a
    blocks.unpersist(); comp.unpersist()


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


# ------------------------------- postings and positions share buckets
def _bucket_docs(table) -> set:
    """Every (rbucket, doc_id) a posting or positional table holds."""
    from php_lucene_analyzer_spark.functions.codec import (delta_decode,
                                                           vbyte_decode)
    return {(r["rbucket"], int(d))
            for r in table.select("rbucket", "doc_blob").collect()
            for d in delta_decode(vbyte_decode(r["doc_blob"]))}


def _assert_co_bucketed(postings, positional):
    """The tree kernel's phrase-leaf precondition: each doc's positions
    sit in an rbucket that holds that doc's postings."""
    pos = _bucket_docs(positional)
    assert pos and pos <= _bucket_docs(postings)


def _first_words(docs, doc_id=0, n=2):
    return " ".join(docs.filter(f"doc_id = {doc_id}").first()["text"]
                    .split()[1:1 + n])


@pytest.fixture(scope="module")
def frag_index(spark, docs):
    """A positional FulltextIndex over 8 doc-range partitions (8
    rbuckets), from the facade's own builder."""
    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.operators.postings import (
        _index_blocks, _split_blocks, corpus_stats_from_postings)
    sub = docs.select("doc_id", "text")
    blocks = _index_blocks(sub.repartitionByRange(8, "doc_id"), "doc_id",
                           ["text"], positions=True).cache()
    postings, pos = _split_blocks(blocks)
    tstats = term_stats_from_postings(postings).cache()
    n = sub.count()
    idx = FulltextIndex(spark, postings, tstats, n,
                        corpus_stats_from_postings(postings, n), None, pos)
    assert postings.select("rbucket").distinct().count() == 8
    idx._cached = [blocks, tstats]
    yield idx
    idx.close()


@pytest.mark.parametrize("fields", [None, ["text", "title"]],
                         ids=["one-field", "two-field"])
def test_build_and_load_keep_positions_with_postings(spark, docs, tmp_path,
                                                     fields):
    from php_lucene_analyzer_spark.engine import FulltextIndex
    sub = docs.select("doc_id", "text", F.concat_ws(" ", F.slice(
        F.split("text", " "), 1, 4)).alias("title"))
    idx = FulltextIndex.build(spark, sub, ["doc_id"], text_col="text",
                              positional=True, fields=fields)
    _assert_co_bucketed(idx.postings, idx.positional)
    idx.save(str(tmp_path / "idx"))
    loaded = FulltextIndex.load(spark, str(tmp_path / "idx"))
    _assert_co_bucketed(loaded.postings, loaded.positional)
    loaded.close()
    idx.close()


def test_compact_index_shares_one_pack_mapping(frag_index, docs):
    """Compaction forced into >= 3 groups: packing each table by its own
    weight cuts different group boundaries; compact_index's one mapping
    keeps every doc's positions beside its postings, and a phrase
    query() on the compacted index answers as on the original."""
    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.operators.positional import (
        _compact_positional, compact_index)
    from php_lucene_analyzer_spark.operators.postings import bucket_groups
    idx = frag_index
    target = 1_500      # about a fifth of the 500-doc corpus' postings
    cp, cpos = compact_index(idx.postings, idx.positional, target)
    cp, cpos = cp.cache(), cpos.cache()
    groups = cp.select("rbucket").distinct().count()
    assert 3 <= groups < 8
    _assert_co_bucketed(cp, cpos)
    # the hazard: each table packed by its own weight
    own = _compact_positional(idx.positional, bucket_groups(
        idx.positional, "sum_tf", target))
    assert not _bucket_docs(own) <= _bucket_docs(cp)
    c = FulltextIndex(idx.spark, cp, term_stats_from_postings(cp), idx.n_docs,
                      idx.avgdl, None, cpos)
    phrase = _first_words(docs)
    for q in (f'+"{phrase}" stream', f'"{phrase}" value -dup'):
        want = [tuple(r) for r in idx.query(q, k=50).collect()]
        assert [tuple(r) for r in c.query(q, k=50).collect()] == want
        assert want, q
    cp.unpersist()
    cpos.unpersist()


def test_facade_compact_keeps_positions_with_postings(frag_index, docs):
    c = frag_index.compact()
    _assert_co_bucketed(c.postings, c.positional)
    q = f'+"{_first_words(docs)}" stream'
    want = [tuple(r) for r in frag_index.query(q, k=50).collect()]
    assert [tuple(r) for r in c.query(q, k=50).collect()] == want and want
    c.close()


def test_streaming_segments_keep_positions_with_postings(spark, tmp_path):
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
    _assert_co_bucketed(read_streamed_postings(spark, d + "/seg"),
                        read_streamed_postings(spark, d + "/pos"))


def test_resumable_build_keeps_positions_with_postings(spark, docs,
                                                       tmp_path):
    """The chunked, resumable build (scripts/build_index.py --positional)
    writes each chunk's positions in the rbuckets of its postings: on a
    fresh positional build, on a re-run that adds positions to chunks
    committed without them (no new lineage rows), and on a re-run over
    a stale positional layout, which is dropped and rebuilt.  Phrase
    query() over the workdir equals FulltextIndex.build's."""
    import json
    import os

    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.functions.header import (
        CODEC_MAGIC, POSITIONAL_CODEC, POSITIONAL_VERSION)
    from php_lucene_analyzer_spark.operators.lineage import (
        ResumableIndexBuild)
    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings)
    sub = docs.select("doc_id", "text")
    wd = str(tmp_path / "wd")
    pdir, header = wd + "/positional", wd + "/positional/_FORMAT.json"

    def run(positional):
        b = ResumableIndexBuild(spark, wd, chunk_docs=150, text_col="text",
                                positional=positional)
        return b, b.run(sub, ["doc_id"])

    b, postings = run(False)
    assert not os.path.exists(pdir) and len(b.completed_chunks()) > 2
    b, postings = run(True)
    assert b.lineage().count() == len(b.completed_chunks())
    _assert_co_bucketed(postings, spark.read.parquet(pdir))
    with open(header, "w") as f:
        json.dump({"magic": CODEC_MAGIC, "codec": POSITIONAL_CODEC,
                   "version": POSITIONAL_VERSION - 1}, f)
    stale = os.path.join(pdir, "part-stale.parquet")
    open(stale, "w").close()
    b, postings = run(True)
    assert not os.path.exists(stale)
    with open(header) as f:
        assert json.load(f)["version"] == POSITIONAL_VERSION
    pos = spark.read.parquet(pdir)
    _assert_co_bucketed(postings, pos)

    n = sub.count()
    built = FulltextIndex.build(spark, sub, ["doc_id"], text_col="text",
                                positional=True)
    idx = FulltextIndex(spark, postings,
                        term_stats_from_postings(postings), n,
                        corpus_stats_from_postings(postings, n), None, pos)
    phrase = _first_words(docs)
    for q in (f'+"{phrase}" stream', f'"{phrase}" value -dup'):
        want = [tuple(r) for r in built.query(q, k=50).collect()]
        assert [tuple(r) for r in idx.query(q, k=50).collect()] == want
        assert want, q
    built.close()
