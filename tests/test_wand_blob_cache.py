"""The per-bucket decode shared by a query set.

The serving kernel must return BIT-IDENTICAL results whether a query
runs alone or in a set whose queries share one decode per bucket row,
and the shared arrays must be immutable so no query can corrupt a later
query's view.
"""

import numpy as np
import pandas as pd


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


def test_wand_bucket_bit_identical_with_shared_cache(monkeypatch):
    import php_lucene_analyzer_spark.operators.boolean as Bo

    pdf = _toy_postings()
    metas = {
        "ab": [("alpha", 1.3), ("beta", 0.7)],
        "bg": [("beta", 0.7), ("gamma", 2.1)],
        "a": [("alpha", 1.3)],
        "abg": [("alpha", 1.3), ("beta", 0.7), ("gamma", 2.1)],
    }
    # every query of the set scores through the tree kernel, over
    # arrays of the bucket's shared decode
    seen = []
    orig = Bo._tree_bucket

    def spy(decoded, *a, **kw):
        seen.append(decoded)
        return orig(decoded, *a, **kw)

    monkeypatch.setattr(Bo, "_tree_bucket", spy)

    def run(qids):
        trees, insts = {}, {}
        for q in qids:
            trees[q], inst = Bo._should_tree(metas[q])
            insts[q] = [(t, w, 55.0, i) for t, w, i in inst]
        return Bo._bucket_topk(
            pdf, trees, insts,
            {q: sorted({t for t, _ in metas[q]}) for q in qids},
            {q: 10 for q in qids}, 1.2, 0.75)

    shared = run(list(metas))
    assert {t for d in seen for t in d} == {"alpha", "beta", "gamma"}
    for decoded in seen:
        for arrays in decoded.values():
            for a in arrays:
                assert not a.flags.writeable  # a write fails loudly
    for q in metas:
        fresh = run([q]).reset_index(drop=True)
        cached = shared[shared["qid"] == q].reset_index(drop=True)
        pd.testing.assert_frame_equal(fresh, cached)
        # exact float equality, not approx: the bit-identity contract
        assert list(map(float, fresh["score"])) == \
            list(map(float, cached["score"]))
