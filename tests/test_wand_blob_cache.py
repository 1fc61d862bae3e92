"""operators/wand._BlobCache and the dense kernel's ``term_dec`` memo.

The serving kernels must return BIT-IDENTICAL results whether blobs are
decoded fresh per query (r5 behavior) or through a cache shared across
a batch's queries, and the cached arrays must be immutable so no kernel
can corrupt a later query's view.
"""

import numpy as np
import pandas as pd
import pytest


def _toy_postings():
    from php_lucene_analyzer_spark.operators.postings import _block_rows

    rng = np.random.default_rng(7)
    terms, offs = [], [0]
    docs, tfs, dls = [], [], []
    total = 0
    for t in ["alpha", "beta", "gamma"]:
        n = int(rng.integers(150, 400))
        d = np.sort(rng.choice(np.arange(2000, dtype=np.uint64), n,
                               replace=False))
        docs.append(d)
        tfs.append(rng.integers(1, 9, n).astype(np.uint64))
        dls.append(rng.integers(20, 120, n).astype(np.uint64))
        total += n
        terms.append(t)
        offs.append(total)
    return _block_rows(terms, np.asarray(offs, dtype=np.int64),
                       np.concatenate(docs), np.concatenate(tfs),
                       np.concatenate(dls), 0)


def test_blob_cache_returns_frozen_equal_arrays():
    from php_lucene_analyzer_spark.functions.codec import (delta_decode,
                                                           vbyte_decode)
    from php_lucene_analyzer_spark.operators.wand import _BlobCache

    pdf = _toy_postings()
    cache = _BlobCache()
    for _, row in pdf.iterrows():
        d1 = cache.docs(row["doc_blob"])
        assert not d1.flags.writeable
        assert d1 is cache.docs(row["doc_blob"])  # memoized
        np.testing.assert_array_equal(
            d1, delta_decode(vbyte_decode(row["doc_blob"])))
        v1 = cache.vals(row["tf_blob"])
        assert not v1.flags.writeable
        np.testing.assert_array_equal(v1, vbyte_decode(row["tf_blob"]))
        with pytest.raises(ValueError):
            d1[0] = 0  # immutable: a mutating consumer fails loudly


def test_wand_bucket_bit_identical_with_shared_cache():
    from php_lucene_analyzer_spark.operators.wand import (_BlobCache,
                                                          _wand_bucket)

    pdf = _toy_postings()
    metas = [
        [("alpha", 1.3), ("beta", 0.7)],
        [("beta", 0.7), ("gamma", 2.1)],
        [("alpha", 1.3)],                       # single-term path
        [("alpha", 1.3), ("beta", 0.7), ("gamma", 2.1)],
    ]
    # the toy terms are dense, so multi-term metas take the vectorized
    # kernel, which shares whole-term decodes through ``term_dec``
    shared, term_dec = _BlobCache(), {}
    for meta in metas:
        sub = pdf[pdf["term"].isin([t for t, _ in meta])]
        fresh = _wand_bucket(sub, meta, 10, 55.0, 1.2, 0.75)
        cached = _wand_bucket(sub, meta, 10, 55.0, 1.2, 0.75,
                              cache=shared, term_dec=term_dec)
        pd.testing.assert_frame_equal(fresh.reset_index(drop=True),
                                      cached.reset_index(drop=True))
        # exact float equality, not approx: the bit-identity contract
        assert list(map(float, fresh["score"])) == \
            list(map(float, cached["score"]))
    assert set(term_dec) == {"alpha", "beta", "gamma"}
    for arrays in term_dec.values():
        for a in arrays:
            assert not a.flags.writeable  # frozen like _BlobCache's
