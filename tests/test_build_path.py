"""The one index-build path (operators/postings.py::_index_blocks): the
analyzer runs once per doc per field, postings and positions share one
flush bound and one bucket layout, postings tf counts stacked tokens
while positional freq counts distinct positions, and the facade's
tables equal the public operators' output row for row."""

import tempfile

import numpy as np
import pandas as pd
import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.analysis.analyzers import Analyzer
from php_lucene_analyzer_spark.corpus import synthetic_corpus
from php_lucene_analyzer_spark.engine import FulltextIndex
from php_lucene_analyzer_spark.functions.codec import vbyte_decode
from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.positional import \
    positional_postings
from php_lucene_analyzer_spark.operators.postings import index_corpus

ORDER = ["repo", "path"]
KEY = ["term", "rbucket", "block_no", "n", "first_doc", "last_doc"]


def _rows(df) -> list[tuple]:
    return sorted(tuple(bytes(v) if isinstance(v, (bytes, bytearray))
                        else v for v in r) for r in df.collect())


@pytest.mark.parametrize("positional", [True, False],
                         ids=["positional", "plain"])
def test_analyzer_runs_once_per_doc_per_field(spark, positional):
    class Counting(Analyzer):
        def __init__(self, n_tokens, n_terms):
            super().__init__()
            self.n_tokens, self.n_terms = n_tokens, n_terms

        def tokens(self, text):
            self.n_tokens.add(1)
            return super().tokens(text)

        def terms(self, text):
            self.n_terms.add(1)
            return super().terms(text)

    sc = spark.sparkContext
    an = Counting(sc.accumulator(0), sc.accumulator(0))
    docs = synthetic_corpus(spark, 120, partitions=2)
    fields = ["content", "path"]
    idx = FulltextIndex.build(spark, docs, ORDER, analyzer=an,
                              positional=positional, fields=fields)
    with tempfile.TemporaryDirectory() as d:
        idx.save(d + "/idx")
    idx.close()
    calls = 120 * len(fields)
    if positional:
        assert (an.n_tokens.value, an.n_terms.value) == (calls, 0)
    else:
        assert (an.n_tokens.value, an.n_terms.value) == (0, calls)


def test_postings_and_positions_share_buckets(spark):
    """Docs repeat terms, so tokens per doc exceed distinct terms and
    positions: with one bound counted in tokens, both tables still cut
    the same rbuckets and blocks on doc-unsorted input."""
    rows = [(i, f"alpha beta alpha gamma{i % 3} beta alpha delta{i % 5}")
            for i in range(120)]
    rows = rows[1::2] + rows[0::2]  # doc-unsorted
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])).coalesce(1)
    post = _rows(index_corpus(docs, "doc_id", "text",
                              flush_postings=60).select(*KEY))
    pos = _rows(positional_postings(docs, "doc_id", "text",
                                    flush_positions=60).select(*KEY))
    assert post == pos
    assert len({r[1] for r in post}) > 3


def test_stacked_token_tf_and_freq(spark):
    """A synonym that stacks a term on itself: postings tf counts both
    tokens, the positional freq counts their one position."""
    an = Analyzer(synonyms={"foo": "foo"})
    docs = spark.createDataFrame(
        [("r", f"p{i}", "foo bar qux") for i in range(6)],
        "repo string, path string, content string")
    idx = FulltextIndex.build(spark, docs, ORDER, analyzer=an,
                              positional=True)
    post = idx.postings.filter(F.col("term") == "foo").collect()
    pos = idx.positional.filter(F.col("term") == "foo").collect()
    tfs = np.concatenate([vbyte_decode(r["tf_blob"]) for r in post])
    dls = np.concatenate([vbyte_decode(r["dl_blob"]) for r in post])
    freqs = np.concatenate([vbyte_decode(r["freq_blob"]) for r in pos])
    assert tfs.tolist() == [2] * 6 and dls.tolist() == [4] * 6
    assert freqs.tolist() == [1] * 6
    idx.close()


@pytest.mark.parametrize("fields,offsets", [(None, False),
                                            (["content", "path"], True)],
                         ids=["default", "two-field-offsets"])
def test_facade_tables_equal_operators(spark, fields, offsets):
    docs = synthetic_corpus(spark, 150, partitions=2)
    idx = FulltextIndex.build(spark, docs, ORDER, positional=True,
                              fields=fields, offsets=offsets)
    ids = ft.with_doc_ids(docs, ORDER).cache()
    post = index_corpus(ids, "doc_id", "content", fields=fields)
    # per field, then merged in Python: a Spark union would shift the
    # second input's partition ids, hence its rbuckets
    pos = []
    for i, f in enumerate(fields or ["content"]):
        pf = positional_postings(ids, "doc_id", f, store_offsets=offsets)
        if i:
            pf = pf.withColumn("term",
                               F.concat(F.lit(f + ft.FIELD_SEP), "term"))
        pos += _rows(pf)
    assert _rows(idx.postings) == _rows(post)
    assert _rows(idx.positional) == sorted(pos)
    assert idx.positional.columns == pf.columns
    idx.close()
    ids.unpersist()
