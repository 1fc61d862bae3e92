"""spark-submit --py-files integration (north rule: the build/query jobs
must launch via spark-submit with the package shipped as a zip).

Drives the REAL binary end-to-end on sf0.001: package zip -> build job
(chunked + lineage) -> idempotent re-run (resume finds nothing to do) ->
query job, whose hits must equal the in-process WAND over the same
on-disk index.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SPARK_SUBMIT = shutil.which("spark-submit")

pytestmark = pytest.mark.skipif(
    SPARK_SUBMIT is None or not os.path.isdir(SF_DIR),
    reason="spark-submit or sf0.001 testdata not available")


def _submit(*argv: str, env_extra: dict | None = None) -> str:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if env_extra:
        env.update(env_extra)
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[4]",
         "--conf", "spark.sql.shuffle.partitions=4", *argv],
        capture_output=True, text=True, timeout=600, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


@pytest.fixture(scope="module")
def pyfiles_zip(tmp_path_factory):
    base = tmp_path_factory.mktemp("pyfiles") / "plas"
    return shutil.make_archive(
        str(base), "zip", root_dir=REPO, base_dir="php_lucene_analyzer_spark")


@pytest.fixture(scope="module")
def built_index(pyfiles_zip, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("submitidx") / "idx")
    docs = os.path.join(SF_DIR, "documents.parquet")
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "build_index.py"),
                  "--input", docs, "--workdir", workdir,
                  "--order-cols", "doc_id", "--text-col", "text",
                  "--chunk-docs", "200")
    summary = json.loads(out.strip().splitlines()[-1])
    return workdir, summary


def test_build_via_spark_submit(built_index):
    workdir, summary = built_index
    assert summary["n_docs"] > 0 and summary["n_terms"] > 0
    assert len(summary["chunks"]) >= 2          # chunked, not monolithic
    assert os.path.exists(os.path.join(workdir, "stats.json"))
    assert os.path.isdir(os.path.join(workdir, "lineage"))


def test_rerun_is_resume_noop(built_index, pyfiles_zip):
    workdir, summary = built_index
    docs = os.path.join(SF_DIR, "documents.parquet")
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "build_index.py"),
                  "--input", docs, "--workdir", workdir,
                  "--order-cols", "doc_id", "--text-col", "text",
                  "--chunk-docs", "200")
    again = json.loads(out.strip().splitlines()[-1])
    # identical chunk set and corpus stats; lineage has no duplicates
    assert again["chunks"] == summary["chunks"]
    assert again["n_docs"] == summary["n_docs"]
    assert again["n_terms"] == summary["n_terms"]


def test_query_via_spark_submit_matches_inprocess(built_index, pyfiles_zip,
                                                  spark):
    workdir, _ = built_index
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "query_index.py"),
                  "--workdir", workdir, "-k", "5",
                  "merge join", "stream window")
    lines = [json.loads(l) for l in out.strip().splitlines()
             if l.startswith("{")]
    got = {d["query"]: [tuple(h) for h in d["hits"]] for d in lines}

    from php_lucene_analyzer_spark.operators.postings import (
        term_stats_from_postings)
    from php_lucene_analyzer_spark.operators.wand import wand_topk

    stats = json.load(open(os.path.join(workdir, "stats.json")))
    postings = spark.read.option(
        "basePath", os.path.join(workdir, "postings")).parquet(
        os.path.join(workdir, "postings", "chunk=*"))
    tstats = term_stats_from_postings(postings).cache()
    for q in ("merge join", "stream window"):
        want = [(r["doc_id"], r["score"]) for r in
                wand_topk(postings, tstats, stats["n_docs"],
                          stats["avgdl"], q, k=5).collect()]
        assert got[q] == want and want


def test_content_invariant_operator(spark):
    """content_invariant_violations: clean copy -> empty; corrupted row
    and missing row -> reported."""
    import pyspark.sql.functions as F

    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.fulltext import (
        content_invariant_violations, with_doc_ids)

    src = synthetic_corpus(spark, 60).cache()
    ids = with_doc_ids(src, ["repo", "path"])
    assert content_invariant_violations(
        src, ids, ["repo", "path"]).count() == 0
    corrupted = ids.withColumn(
        "content", F.when(F.col("doc_id") == 7, F.lit("tampered"))
        .otherwise(F.col("content"))).filter(F.col("doc_id") != 9)
    bad = content_invariant_violations(
        src, corrupted, ["repo", "path"]).count()
    assert bad == 2  # one mismatch + one missing


def test_build_audit_and_fetch_via_spark_submit(pyfiles_zip, tmp_path_factory,
                                                spark):
    """--audit passes on a clean input_hint-shaped build; --fetch returns
    repo/path metadata joined to the hits."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus

    src = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    synthetic_corpus(spark, 300).write.parquet(src)
    workdir = str(tmp_path_factory.mktemp("fetchidx") / "idx")
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "build_index.py"),
                  "--input", src, "--workdir", workdir,
                  "--order-cols", "repo,path", "--text-col", "content",
                  "--chunk-docs", "150", "--audit")
    summary = json.loads(out.strip().splitlines()[-1])
    assert summary["n_docs"] == 300 and summary["text_col"] == "content"

    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "query_index.py"),
                  "--workdir", workdir, "-k", "3", "--fetch",
                  "parse token")
    line = [json.loads(l) for l in out.strip().splitlines()
            if l.startswith("{")][0]
    assert line["hits"], out
    for doc_id, score, meta in line["hits"]:
        assert set(meta) >= {"repo", "path"} and meta["repo"]
        assert "content" not in meta


def test_content_invariant_null_content(spark):
    """NULL content equals NULL content (no false violation); a NULL vs
    non-NULL mismatch IS a violation."""
    from php_lucene_analyzer_spark.operators.fulltext import (
        content_invariant_violations)

    schema = "k long, content string"
    src = spark.createDataFrame([(1, "x"), (2, None)], schema)
    same = spark.createDataFrame([(1, "x"), (2, None)], schema)
    assert content_invariant_violations(src, same, ["k"]).count() == 0
    diff = spark.createDataFrame([(1, "x"), (2, "now set")], schema)
    assert content_invariant_violations(src, diff, ["k"]).count() == 1


def test_engine_save_keeps_cache(spark, tmp_path):
    """save() must not evict the index's own cached postings plan."""
    from pyspark import StorageLevel

    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.engine import FulltextIndex

    docs = synthetic_corpus(spark, 80)
    idx = FulltextIndex.build(spark, docs, ["repo", "path"])
    assert idx.postings.storageLevel != StorageLevel.NONE
    idx.save(str(tmp_path / "s"))
    assert idx.postings.storageLevel != StorageLevel.NONE, \
        "save() unpersisted the live index"
    assert idx.search("parse", k=3).count() > 0


def test_query_classic_syntax_via_spark_submit(built_index, pyfiles_zip,
                                               spark):
    """--syntax classic routes through the round-4 parser + tree kernel
    and matches the in-process engine bit-for-bit."""
    workdir, _ = built_index
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "query_index.py"),
                  "--workdir", workdir, "-k", "5", "--syntax", "classic",
                  "(merge OR join) AND stream", "window order -slow")
    lines = [json.loads(l) for l in out.strip().splitlines()
             if l.startswith("{")]
    got = {d["query"]: [tuple(h) for h in d["hits"]] for d in lines}

    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.operators.postings import (
        term_stats_from_postings)

    stats = json.load(open(os.path.join(workdir, "stats.json")))
    postings = spark.read.option(
        "basePath", os.path.join(workdir, "postings")).parquet(
        os.path.join(workdir, "postings", "chunk=*"))
    tstats = term_stats_from_postings(postings).cache()
    idx = FulltextIndex(spark, postings, tstats, int(stats["n_docs"]),
                        float(stats["avgdl"]))
    for q in ("(merge OR join) AND stream", "window order -slow"):
        want = [(r["doc_id"], r["score"])
                for r in idx.query(q, k=5).collect()]
        assert got[q] == want and want


@pytest.fixture(scope="module")
def built_positional_index(pyfiles_zip, tmp_path_factory):
    workdir = str(tmp_path_factory.mktemp("submitposidx") / "idx")
    docs = os.path.join(SF_DIR, "documents.parquet")
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "build_index.py"),
                  "--input", docs, "--workdir", workdir,
                  "--order-cols", "doc_id", "--text-col", "text",
                  "--chunk-docs", "200", "--positional")
    return workdir, json.loads(out.strip().splitlines()[-1])


def _bucket_docs(table) -> set:
    """Every (rbucket, doc_id) a posting or positional table holds."""
    from php_lucene_analyzer_spark.functions.codec import (delta_decode,
                                                           vbyte_decode)
    return {(r["rbucket"], int(d))
            for r in table.select("rbucket", "doc_blob").collect()
            for d in delta_decode(vbyte_decode(r["doc_blob"]))}


def test_phrase_serving_via_spark_submit(built_positional_index,
                                         pyfiles_zip, spark):
    """build_index.py --positional writes the packed positional index
    (format-headered) chunk by chunk, each doc's positions in the
    rbucket of its postings (the phrase-leaf precondition), and
    query_index.py serves phrase-bearing classic queries from it,
    matching an in-process FulltextIndex built from the same input
    bit-for-bit."""
    workdir, summary = built_positional_index
    assert summary["has_positional"]
    assert len(summary["chunks"]) > 1
    pdir = os.path.join(workdir, "positional")
    assert os.path.isdir(os.path.join(pdir, "chunk=1"))
    postings = spark.read.option(
        "basePath", os.path.join(workdir, "postings")).parquet(
        os.path.join(workdir, "postings", "chunk=*"))
    pos_docs = _bucket_docs(spark.read.parquet(pdir))
    assert pos_docs and pos_docs <= _bucket_docs(postings)

    q1, q2 = '+"merge join" value', '"fast merge"~2 stream'
    q3 = '+"merge join" +value'
    out = _submit("--py-files", pyfiles_zip,
                  os.path.join(REPO, "scripts", "query_index.py"),
                  "--workdir", workdir, "-k", "5", "--syntax", "classic",
                  q1, q2, q3)
    lines = [json.loads(l) for l in out.strip().splitlines()
             if l.startswith("{")]
    got = {d["query"]: [tuple(h) for h in d["hits"]] for d in lines}

    from php_lucene_analyzer_spark.engine import FulltextIndex
    idx = FulltextIndex.build(
        spark, spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")),
        ["doc_id"], text_col="text", positional=True)
    for q in (q1, q2, q3):
        want = [(r["doc_id"], r["score"])
                for r in idx.query(q, k=5).collect()]
        assert got[q] == want and want, q
    idx.close()
