"""The per-bucket block filter (operators/boolean.py::_query_topk), pure
NumPy, no Spark: block-max MaxScore pruning must return exactly what one
full decode + the tree kernel returns, skip blocks where the layout
allows it, and share one decode per row across a query set."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

import php_lucene_analyzer_spark.operators.boolean as Bo
from php_lucene_analyzer_spark.operators.fulltext import B, K1
from php_lucene_analyzer_spark.operators.postings import (_block_rows,
                                                          decode_postings)

SEGMENT = 1_000_000      # the second segment's docs start here


def _segment(terms: dict, base: int = 0):
    """{term: (docs, tfs, dls)} -> one segment's block rows, rbucket 0."""
    ts = sorted(t for t in terms if len(terms[t][0]))
    if not ts:
        return None
    cols = [np.concatenate([np.asarray(terms[t][i], dtype=np.uint64)
                            for t in ts]) for i in range(3)]
    offs = np.cumsum([0] + [len(terms[t][0]) for t in ts]).astype(np.int64)
    cols[0] = cols[0] + np.uint64(base)
    return _block_rows(ts, offs, *cols, 0)


def _layout(seed: int, plan: list[list[tuple[int, int, bool]]]):
    """Two doc-disjoint segments sharing rbucket 0; ``plan[t][s]`` =
    (postings, gap factor, skewed) of term t in segment s."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    segs = []
    for s in range(2):
        terms = {}
        for t, per_seg in enumerate(plan):
            n, gap, skew = per_seg[s]
            docs = np.sort(rng.choice(n * gap, n, replace=False))
            tfs = rng.integers(1, 4, n)
            dls = rng.integers(5, 60, n)
            if skew and n:
                hot = rng.integers(0, n, 1 + n // 40)
                tfs[hot] = rng.integers(5, 60, hot.size)
                dls[rng.integers(0, n, 1 + n // 20)] = 400
            terms[f"t{t}"] = (docs, tfs, dls)
        seg = _segment(terms, s * SEGMENT)
        if seg is not None:
            segs.append(seg)
    return pd.concat(segs, ignore_index=True) if segs else None


def _tree(shape: str, ts: list[str]):
    """(tree, [(term, leaf_id)] of the scoring leaves) for ``shape``."""
    leaves = [("leaf", i, (t,)) for i, t in enumerate(ts)]
    pos = list(enumerate(ts))
    if len(ts) < 2 or shape == "flat":
        return ("node", (), tuple(leaves), (), 1), pos
    if shape == "must":
        return ("node", (leaves[0],), tuple(leaves[1:]), (), 0), pos
    if shape == "not":
        return ("node", (), tuple(leaves[:-1]), (leaves[-1],), 1), pos[:-1]
    if shape == "msm2":
        return ("node", (), tuple(leaves), (), 2), pos
    if shape == "synonym":            # one leaf of two terms
        leaf = ("leaf", 0, tuple(ts[:2]))
        return ("node", (), (leaf,) + tuple(leaves[2:]), (), 1), \
            [(0, ts[0]), (0, ts[1])] + pos[2:]
    sub = ("node", (), tuple(leaves[1:]), (), 1)           # nested
    return ("node", (sub,), (leaves[0],), (), 0), pos


def _full(pdf, tree, inst, k):
    """_tree_bucket over one decode of every row, cut to k."""
    terms, offs, docs, tfs, dls = decode_postings(pdf)
    tfs, dls = tfs.astype(np.float64), dls.astype(np.float64)
    dec = {t: (docs[a:b], tfs[a:b], dls[a:b])
           for t, a, b in zip(terms, offs[:-1], offs[1:])}
    d, s = Bo._tree_bucket(dec, tree, inst, k, K1, B)
    return list(zip(d.tolist(), s.tolist()))


def _run(pdf, queries: dict):
    """{qid: (tree, instances, k)} through _bucket_topk as one set ->
    {qid: [(doc, score)]}."""
    got = Bo._bucket_topk(
        pdf, {q: v[0] for q, v in queries.items()},
        {q: v[1] for q, v in queries.items()},
        {q: sorted(Bo._leaf_terms(v[0])) for q, v in queries.items()},
        {q: v[2] for q, v in queries.items()}, K1, B)
    return {q: list(zip(got["doc_id"][got["qid"] == q].tolist(),
                        got["score"][got["qid"] == q].tolist()))
            for q in queries}


def _spy(monkeypatch) -> list:
    """The block rows of every decode_postings call the kernel makes."""
    calls = []
    orig = Bo.decode_postings

    def spy(rows):
        calls.append(rows)
        return orig(rows)

    monkeypatch.setattr(Bo, "decode_postings", spy)
    return calls


_term_plan = st.lists(
    st.tuples(st.sampled_from([0, 1, 9, 130, 700, 2000]),
              st.sampled_from([1, 3, 40]), st.booleans()),
    min_size=2, max_size=2)
_query = st.tuples(
    st.sampled_from(["flat", "must", "not", "msm2", "nested", "synonym"]),
    st.lists(st.integers(0, 3), min_size=1, max_size=4, unique=True),
    st.lists(st.sampled_from([0.0, 0.4, 1.0, 3.5]), min_size=4,
             max_size=4),
    st.sampled_from([40.0, 90.0]),
    st.sampled_from([1, 3, 10, 40]))


@settings(max_examples=150, deadline=None)
@given(seed=st.integers(0, 2 ** 32 - 1),
       plan=st.lists(_term_plan, min_size=1, max_size=4),
       qs=st.lists(_query, min_size=1, max_size=4))
def test_pruned_bucket_equals_full_decode(seed, plan, qs):
    """Random one-bucket layouts (1-4 terms, skewed tf and dl, doc gaps,
    two doc-disjoint segments sharing an rbucket number) and query sets
    whose queries share terms: every query's pruned top k equals the
    tree kernel over one full decode, cut to k, with exact floats."""
    pdf = _layout(seed, plan)
    if pdf is None:
        return
    queries = {}
    for i, (shape, picks, ws, avgdl, k) in enumerate(qs):
        ts = [f"t{j % len(plan)}" for j in picks]
        ts = list(dict.fromkeys(ts))
        tree, pos = _tree(shape, ts)
        inst = sorted((t, ws[j], avgdl if j % 2 else 55.0, leaf)
                      for j, (leaf, t) in enumerate(pos))
        queries[f"q{i}"] = (tree, inst, k)
    got = _run(pdf, queries)
    for q, (tree, inst, k) in queries.items():
        assert got[q] == _full(pdf, tree, inst, k), q


def test_theta_tie_with_smaller_doc_enters_top_k(monkeypatch):
    """A doc in a later window scoring exactly θ with a smaller doc id
    enters the top k: the window's bound equals θ, so it is kept (only
    a strictly lower bound drops a window)."""
    tfs_a = np.full(128, 2)
    tfs_a[5] = 5                               # doc 5 scores θ exactly
    tfs_b = np.full(128, 2)
    tfs_b[[10, 20, 30]] = 5
    tfs_b[40] = 6                              # the best block: round 1
    pdf = _segment({"t": (np.r_[np.arange(128), 1000 + np.arange(128)],
                          np.r_[tfs_a, tfs_b], np.full(256, 50))})
    assert len(pdf) == 2
    tree, pos = _tree("flat", ["t"])
    inst = [("t", 1.7, 50.0, 0)]
    calls = _spy(monkeypatch)
    got = _run(pdf, {"q": (tree, inst, 3)})["q"]
    assert sum(len(c["term"]) for c in calls) == 2     # block A was decoded
    assert [d for d, _s in got] == [1040, 5, 1010]
    assert got[1][1] == got[2][1]
    assert got == _full(pdf, tree, inst, 3)


def _shared_hot_range():
    rng = np.random.default_rng(5)
    n = 128 * 40
    terms = {}
    for t in "abc":
        tfs = rng.integers(1, 3, n)
        tfs[2000:2040] = rng.integers(20, 40, 40)
        terms[t] = (np.arange(n), tfs, np.full(n, 60))
    return _segment(terms), [("a", 1.0), ("b", 1.2), ("c", 0.8)]


def _rare_plus_common():
    rng = np.random.default_rng(9)
    n = 128 * 57
    dls = rng.integers(30, 90, n)
    rare = np.sort(rng.choice(n, 30, replace=False))
    return _segment({"common": (np.arange(n), rng.integers(1, 4, n), dls),
                     "rare": (rare, rng.integers(1, 4, 30), dls[rare])}), \
        [("common", 0.4), ("rare", 6.0)]


@pytest.mark.parametrize("make", [_shared_hot_range, _rare_plus_common])
def test_skewed_layouts_skip_blocks(monkeypatch, make):
    """Where terms span many blocks in a bucket, the filter decodes
    fewer blocks than the query's terms hold (3 of 120 and 28 of 58 at
    the time of writing; a single skewed term is
    test_index.py::test_single_term_impact_ordered_early_stop) and
    still answers exactly."""
    pdf, entries = make()
    tree, inst = Bo._should_tree(entries)
    inst = [(t, w, 60.0, i) for t, w, i in inst]
    calls = _spy(monkeypatch)
    got = _run(pdf, {"q": (tree, inst, 10)})["q"]
    assert sum(len(c["term"]) for c in calls) < len(pdf)
    assert got == _full(pdf, tree, inst, 10)


def test_many_not_terms_stay_out_of_the_filter(monkeypatch):
    """NOT terms bound nothing and make no candidate, so they take no
    part in the window grid: a skewed term under 600 NOT terms still
    skips blocks, allocates no grid over the NOT terms (each a column
    of windows x terms arrays, with windows cut at their block
    boundaries) and answers as one full decode does."""
    import tracemalloc

    rng = np.random.default_rng(8)
    n = 128 * 40
    tfs = np.ones(n, dtype=np.int64)
    tfs[300:340] = 50
    terms = {"hot": (np.arange(n), tfs, np.full(n, 60))}
    for i in range(600):
        d = rng.integers(0, n - 1) + np.arange(2)       # a narrow block
        terms[f"n{i:03d}"] = (d, np.ones(2, dtype=np.int64), np.full(2, 60))
    pdf = _segment(terms)
    leaves = [("leaf", i, (t,)) for i, t in enumerate(sorted(terms))]
    hot = [x for x in leaves if x[2] == ("hot",)]
    tree = ("node", (), tuple(hot),
            tuple(x for x in leaves if x not in hot), 1)
    inst = [("hot", 2.0, 60.0, hot[0][1])]
    calls = _spy(monkeypatch)
    tracemalloc.start()
    try:
        got = _run(pdf, {"q": (tree, inst, 10)})["q"]
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert sum(len(c["term"]) for c in calls) < len(pdf)
    assert peak < 8 << 20, peak
    assert got == _full(pdf, tree, inst, 10)


def test_grid_larger_than_postings_decodes_all(monkeypatch):
    """A query whose windows x instances grid would outgrow the postings
    of its rows (here 300 one-doc terms) skips the filter: one decode of
    its rows, the same answer."""
    terms = {f"r{i:03d}": ([7 * i], [1 + i % 5], [40 + i % 9])
             for i in range(300)}
    pdf = _segment(terms)
    tree, inst = Bo._should_tree([(t, 1.0 + i % 3)
                                  for i, t in enumerate(sorted(terms))])
    inst = [(t, w, 50.0, i) for t, w, i in inst]
    calls = _spy(monkeypatch)
    got = _run(pdf, {"q": (tree, inst, 10)})["q"]
    assert [len(c["term"]) for c in calls] == [len(pdf)]
    assert got == _full(pdf, tree, inst, 10)


def test_query_set_shares_decodes(monkeypatch):
    """A 20-query set whose queries share terms makes no more
    decode_postings calls per bucket than a 2-query set, decodes no
    block row twice, and answers each query as it answers alone."""
    pdf = _layout(11, [[(2000, 3, True), (700, 1, False)],
                       [(700, 40, True), (130, 3, True)],
                       [(2000, 1, False), (2000, 1, True)],
                       [(9, 3, False), (700, 3, True)]])
    rng = np.random.default_rng(4)
    shapes = ["flat", "must", "not", "msm2", "nested", "synonym"]
    queries = {}
    for i in range(20):
        ts = [f"t{j}" for j in rng.permutation(4)[:2 + i % 3]]
        tree, pos = _tree(shapes[i % len(shapes)], ts)
        inst = sorted((t, float(rng.choice([0.5, 1.0, 2.0])), 55.0, leaf)
                      for leaf, t in pos)
        queries[f"q{i}"] = (tree, inst, [3, 10][i % 2])
    calls = _spy(monkeypatch)
    alone = {q: _run(pdf, {q: v})[q] for q, v in queries.items()}
    calls.clear()
    two = _run(pdf, dict(list(queries.items())[:2]))
    n_two = len(calls)
    calls.clear()
    twenty = _run(pdf, queries)
    assert len(calls) <= n_two == 4
    keys = [k for c in calls for k in zip(c["term"], c["first_doc"])]
    assert len(keys) == len(set(keys))
    assert twenty == alone
    assert two == {q: alone[q] for q in two}
