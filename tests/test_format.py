"""Artifact format headers (functions/header.py — the CodecUtil role,
reference hunspell/CodecUtil.php:20-261): every repo-written artifact
carries magic+codec+version; stale/foreign layouts fail at OPEN time
with a versioned message (VERDICT r1 item 9)."""

import json
import os
import tempfile

import pytest

from php_lucene_analyzer_spark.functions.header import (
    CODEC_MAGIC, FormatError, INDEX_WORKDIR_CODEC, POSTINGS_CODEC,
    POSTINGS_VERSION, check_dir_header, check_fields, header_fields,
    write_dir_header)


def test_header_roundtrip_and_mismatches(tmp_path):
    p = str(tmp_path)
    write_dir_header(p, POSTINGS_CODEC, POSTINGS_VERSION)
    assert check_dir_header(p, POSTINGS_CODEC, 1, POSTINGS_VERSION) \
        == POSTINGS_VERSION
    # wrong codec
    with pytest.raises(FormatError, match="codec"):
        check_dir_header(p, "plas-other", 1, 9)
    # too old
    with pytest.raises(FormatError, match="older than the oldest"):
        check_dir_header(p, POSTINGS_CODEC, POSTINGS_VERSION + 1,
                         POSTINGS_VERSION + 2)
    # too new
    with pytest.raises(FormatError, match="newer than this code"):
        check_dir_header(p, POSTINGS_CODEC, 0, POSTINGS_VERSION - 1)
    # bad magic
    with open(os.path.join(p, "_FORMAT.json"), "w") as f:
        json.dump({"magic": 0xDEAD, "codec": POSTINGS_CODEC,
                   "version": POSTINGS_VERSION}, f)
    with pytest.raises(FormatError, match="bad magic"):
        check_dir_header(p, POSTINGS_CODEC, 1, POSTINGS_VERSION)
    # missing header on an existing dir = pre-versioned layout
    os.remove(os.path.join(p, "_FORMAT.json"))
    with pytest.raises(FormatError, match="pre-versioned"):
        check_dir_header(p, POSTINGS_CODEC, 1, POSTINGS_VERSION)


def test_embedded_fields_check():
    f = header_fields(INDEX_WORKDIR_CODEC, 2)
    assert f["magic"] == CODEC_MAGIC == 0x3FD76C17
    assert check_fields(f, INDEX_WORKDIR_CODEC, 2, 2, "stats.json") == 2
    with pytest.raises(FormatError):
        check_fields({"n_docs": 5}, INDEX_WORKDIR_CODEC, 2, 2, "stats.json")


def test_write_postings_stamps_header(spark, docs):
    from php_lucene_analyzer_spark.operators.postings import (
        index_corpus, read_postings, write_postings)

    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"), "doc_id", "text")
    with tempfile.TemporaryDirectory() as d:
        out = d + "/p"
        write_postings(postings, out)
        assert os.path.exists(os.path.join(out, "_FORMAT.json"))
        assert read_postings(spark, out).count() > 0
        # tamper: an older layout version must fail at open, not decode
        with open(os.path.join(out, "_FORMAT.json"), "w") as f:
            json.dump({"magic": CODEC_MAGIC, "codec": POSTINGS_CODEC,
                       "version": 1}, f)
        with pytest.raises(FormatError, match="older"):
            read_postings(spark, out)


def test_resumable_build_rejects_stale_workdir(spark):
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.lineage import (
        ResumableIndexBuild)

    docs = synthetic_corpus(spark, 60, partitions=2)
    with tempfile.TemporaryDirectory() as d:
        wd = d + "/idx"
        b = ResumableIndexBuild(spark, wd, chunk_docs=40, text_col="content")
        b.run(docs, ["repo", "path"])
        assert os.path.exists(os.path.join(wd, "_FORMAT.json"))
        # same-version resume stays fine (idempotent; no chunks re-run)
        b2 = ResumableIndexBuild(spark, wd, chunk_docs=40,
                                 text_col="content")
        assert b2.run(docs, ["repo", "path"]).count() > 0
        # stale version -> versioned refusal before any chunk work
        with open(os.path.join(wd, "_FORMAT.json"), "w") as f:
            json.dump({"magic": CODEC_MAGIC, "codec": INDEX_WORKDIR_CODEC,
                       "version": 1}, f)
        with pytest.raises(FormatError, match="older"):
            ResumableIndexBuild(spark, wd, chunk_docs=40,
                                text_col="content").run(docs,
                                                        ["repo", "path"])
        # pre-versioned workdir (state but no header) also refused
        os.remove(os.path.join(wd, "_FORMAT.json"))
        with pytest.raises(FormatError, match="pre-versioned"):
            ResumableIndexBuild(spark, wd, chunk_docs=40,
                                text_col="content").run(docs,
                                                        ["repo", "path"])


def test_engine_save_load_format_guard(spark, docs):
    """FulltextIndex.save stamps headers everywhere; load refuses a
    stale stats.json with a versioned error."""
    from php_lucene_analyzer_spark.engine import FulltextIndex

    with tempfile.TemporaryDirectory() as d:
        idx = FulltextIndex.build(spark, docs.limit(50), ["doc_id"],
                                  text_col="text")
        idx.save(d)
        assert os.path.exists(os.path.join(d, "postings", "_FORMAT.json"))
        got = FulltextIndex.load(spark, d)
        assert got.n_docs == idx.n_docs
        with open(os.path.join(d, "stats.json")) as f:
            stats = json.load(f)
        stats["version"] = 1
        with open(os.path.join(d, "stats.json"), "w") as f:
            json.dump(stats, f)
        with pytest.raises(FormatError, match="older"):
            FulltextIndex.load(spark, d)


def test_engine_load_refuses_unshared_positional_layout(spark, docs):
    """A positional layout older than version 2 (positions not
    guaranteed to share their doc's postings rbucket, e.g. compacted
    by a separate packing) fails at load with a versioned error instead
    of serving wrong phrase answers."""
    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.functions.header import (
        POSITIONAL_CODEC, POSITIONAL_VERSION)

    assert POSITIONAL_VERSION == 2
    with tempfile.TemporaryDirectory() as d:
        idx = FulltextIndex.build(spark, docs.limit(50), ["doc_id"],
                                  text_col="text", positional=True)
        idx.save(d)
        idx.close()
        assert FulltextIndex.load(spark, d).positional is not None
        write_dir_header(os.path.join(d, "positional"), POSITIONAL_CODEC, 1)
        with pytest.raises(FormatError, match="older"):
            FulltextIndex.load(spark, d)
