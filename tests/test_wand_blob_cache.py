"""operators/wand._BlobCache and the per-bucket decode shared by a set.

The serving kernels must return BIT-IDENTICAL results whether blobs are
decoded fresh per query (r5 behavior) or once per bucket for a whole
query set (the _BlobCache of the block-skipping strategies, the one
decode_postings pass of the tree kernel), and the shared arrays must be
immutable so no kernel can corrupt a later query's view.
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


def test_wand_bucket_bit_identical_with_shared_cache(monkeypatch):
    import php_lucene_analyzer_spark.operators.boolean as Bo

    pdf = _toy_postings()
    metas = {
        "ab": [("alpha", 1.3), ("beta", 0.7)],
        "bg": [("beta", 0.7), ("gamma", 2.1)],
        "a": [("alpha", 1.3)],                  # single-term path
        "abg": [("alpha", 1.3), ("beta", 0.7), ("gamma", 2.1)],
    }
    # the toy terms are dense, so the multi-term metas take the tree
    # kernel, which shares one whole-bucket decode across the set
    seen = []
    orig = Bo._tree_bucket

    def spy(decoded, *a, **kw):
        seen.append(decoded)
        return orig(decoded, *a, **kw)

    monkeypatch.setattr(Bo, "_tree_bucket", spy)

    def run(qids):
        trees, insts, flat = {}, {}, {}
        for q in qids:
            trees[q], inst = Bo._should_tree(metas[q])
            insts[q] = [(t, w, 55.0, i) for t, w, i in inst]
            flat[q] = Bo._flat_meta(trees[q], insts[q], 10)
        return Bo._bucket_topk(
            pdf, trees, insts, flat,
            {q: sorted({t for t, _ in metas[q]}) for q in qids},
            {q: 10 for q in qids}, 1.2, 0.75)

    shared = run(list(metas))
    assert len(seen) == 3
    assert {t for d in seen for t in d} == {"alpha", "beta", "gamma"}
    for decoded in seen:
        for arrays in decoded.values():
            for a in arrays:
                assert not a.flags.writeable  # frozen like _BlobCache's
    for q in metas:
        fresh = run([q]).reset_index(drop=True)
        cached = shared[shared["qid"] == q].reset_index(drop=True)
        pd.testing.assert_frame_equal(fresh, cached)
        # exact float equality, not approx: the bit-identity contract
        assert list(map(float, fresh["score"])) == \
            list(map(float, cached["score"]))
