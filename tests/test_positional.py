"""Positional index + phrase matching vs a brute-force position oracle."""

import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.analysis import analyze
from php_lucene_analyzer_spark.operators.positional import (
    _phrase_terms, phrase_match, positional_postings)

PHRASES = [
    "fast merge join",
    "merge join",
    "the spark stream",     # leading stopword -> hole widens the gap
    "window order",
    "dup dup",
]


@pytest.fixture(scope="module")
def pos_index(spark, docs):
    # documents table already carries dense sorted doc_id; partitions after
    # repartitionByRange on doc_id are doc-contiguous
    ranged = docs.repartitionByRange(4, "doc_id")
    return positional_postings(ranged, "doc_id", "text").cache()


def _oracle(docs_rows, phrase):
    terms = _phrase_terms(phrase)
    base = terms[0][1]
    gaps = [(t, p - base) for t, p in terms]
    out = {}
    for row in docs_rows:
        pos = -1
        positions = {}
        for t in analyze(row["text"]):
            pos += t.pos_inc
            positions.setdefault(t.term, set()).add(pos)
        starts = positions.get(gaps[0][0], set())
        n = 0
        for s in starts:
            if all(s + g in positions.get(t, ()) for t, g in gaps[1:]):
                n += 1
        if n:
            out[row["doc_id"]] = n
    return out


@pytest.mark.parametrize("phrase", PHRASES)
def test_phrase_match_equals_oracle(spark, docs, pos_index, phrase):
    got = {r["doc_id"]: r["n_matches"]
           for r in phrase_match(pos_index, phrase).collect()}
    want = _oracle(docs.collect(), phrase)
    assert got == want
    if phrase == "merge join":
        assert got  # sanity: the corpus does contain this bigram


def test_stopword_hole_semantics(spark, pos_index, docs):
    """'the spark' requires spark at the stopword hole's position, i.e.
    gap 2 from a preceding anchor — equivalently the phrase positions
    honor pos_inc holes rather than collapsing them."""
    terms = _phrase_terms("the spark stream")
    # 'the' is removed by the chain; first surviving term anchors at its
    # post-hole position
    assert [t for t, _ in terms] == ["spark", "stream"]
    gaps = [p for _, p in terms]
    assert gaps[1] - gaps[0] == 1


def test_pos_block_roundtrip_multiblock():
    """Packed positional blocks round-trip exactly across block
    boundaries: >128 docs per term (multi-block), per-doc gap reset,
    carry-in decode, and blob slicing on doc boundaries — per block and
    for the whole (shuffled) table in one decode pass."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.positional import \
        _pos_block_rows
    from php_lucene_analyzer_spark.operators.postings import (
        BLOCK_SIZE, decode_positions)

    rng = np.random.default_rng(7)
    terms = ["alpha", "beta"]
    want: dict[str, dict[int, list[int]]] = {}
    docs_l, freqs_l, pos_l, offsets = [], [], [], [0]
    for term in terms:
        n_docs = BLOCK_SIZE * 2 + 37   # 3 blocks, last partial
        dids = np.sort(rng.choice(10**6, size=n_docs, replace=False))
        want[term] = {}
        for d in dids:
            k = int(rng.integers(1, 6))
            ps = np.sort(rng.choice(5000, size=k, replace=False))
            want[term][int(d)] = ps.tolist()
            docs_l.append(int(d))
            freqs_l.append(k)
            pos_l.extend(ps.tolist())
        offsets.append(len(docs_l))
    pdf = _pos_block_rows(
        terms, np.asarray(offsets, dtype=np.int64),
        np.asarray(docs_l, dtype=np.uint64),
        np.asarray(freqs_l, dtype=np.uint64),
        np.asarray(pos_l, dtype=np.uint64), rbucket=0)
    assert set(pdf["term"]) == set(terms)
    assert (pdf.groupby("term")["block_no"].count() == 3).all()
    got: dict[str, dict[int, list[int]]] = {t: {} for t in terms}
    for i, row in pdf.iterrows():
        _, _, docs, freqs, pos = decode_positions(pdf.loc[[i]])
        plists = np.split(pos, np.cumsum(freqs)[:-1])
        assert int(docs[0]) == row["first_doc"]
        assert int(docs[-1]) == row["last_doc"]
        assert len(docs) == row["n"] == len(freqs) == len(plists)
        assert int(freqs.sum()) == row["sum_tf"]
        for d, pl in zip(docs, plists):
            got[row["term"]][int(d)] = pl.tolist()
    assert got == want
    dterms, offs, docs, freqs, pos = decode_positions(
        pdf.sample(frac=1, random_state=3))
    assert dterms == terms and offs.tolist() == offsets
    np.testing.assert_array_equal(docs, docs_l)
    np.testing.assert_array_equal(freqs, freqs_l)
    np.testing.assert_array_equal(pos, pos_l)


def test_pos_block_roundtrip_property():
    """Property: ANY (docs, freqs, positions) shape round-trips through
    block packing — random term counts, doc counts around block-boundary
    edges (1, 127, 128, 129), freqs 1..8, positions with duplicates
    removed per doc."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from php_lucene_analyzer_spark.operators.positional import \
        _pos_block_rows
    from php_lucene_analyzer_spark.operators.postings import \
        decode_positions

    @settings(max_examples=40, deadline=None)
    @given(st.lists(
        st.tuples(
            st.sampled_from([1, 2, 5, 127, 128, 129, 200]),  # docs/term
            st.integers(min_value=0, max_value=2**31)),      # seed
        min_size=1, max_size=4))
    def check(term_specs):
        docs_l, freqs_l, pos_l, offsets = [], [], [], [0]
        want = {}
        terms = []
        for ti, (n_docs, seed) in enumerate(term_specs):
            term = f"t{ti}"
            terms.append(term)
            rng = np.random.default_rng(seed)
            dids = np.sort(rng.choice(10**7, size=n_docs, replace=False))
            want[term] = {}
            for d in dids:
                k = int(rng.integers(1, 9))
                ps = np.unique(rng.integers(0, 10**5, size=k))
                want[term][int(d)] = ps.tolist()
                docs_l.append(int(d))
                freqs_l.append(len(ps))
                pos_l.extend(ps.tolist())
            offsets.append(len(docs_l))
        pdf = _pos_block_rows(
            terms, np.asarray(offsets, dtype=np.int64),
            np.asarray(docs_l, dtype=np.uint64),
            np.asarray(freqs_l, dtype=np.uint64),
            np.asarray(pos_l, dtype=np.uint64), rbucket=0)
        got = {t: {} for t in terms}
        for i, row in pdf.iterrows():
            _, _, docs, freqs, pos = decode_positions(pdf.loc[[i]])
            for d, pl in zip(docs, np.split(pos, np.cumsum(freqs)[:-1])):
                got[row["term"]][int(d)] = pl.tolist()
        assert got == want
        _, offs, docs, freqs, pos = decode_positions(pdf)
        assert offs.tolist() == offsets
        assert (docs.tolist(), freqs.tolist(), pos.tolist()) == \
            (docs_l, freqs_l, pos_l)

    check()


def test_pos_block_roundtrip_offsets():
    """store_offsets layout: char-offset starts (gaps reset per doc,
    like positions) and token lengths round-trip through the whole-table
    decode, aligned 1:1 with the positions, across block boundaries."""
    import numpy as np

    from php_lucene_analyzer_spark.operators.positional import \
        _pos_block_rows
    from php_lucene_analyzer_spark.operators.postings import \
        decode_positions

    rng = np.random.default_rng(11)
    terms = ["a", "b", "c"]
    docs_l, freqs_l, pos_l, st_l, ln_l, offsets = [], [], [], [], [], [0]
    for n_docs in (1, 128, 300):
        for d in np.sort(rng.choice(10**6, size=n_docs, replace=False)):
            ps = np.unique(rng.integers(0, 4000, size=int(
                rng.integers(1, 7))))
            docs_l.append(int(d))
            freqs_l.append(ps.size)
            pos_l += ps.tolist()
            st_l += (ps * 6 + rng.integers(0, 3, ps.size)).tolist()
            ln_l += rng.integers(1, 300, ps.size).tolist()
        offsets.append(len(docs_l))

    def u64(v):
        return np.asarray(v, dtype=np.uint64)

    pdf = _pos_block_rows(terms, np.asarray(offsets, dtype=np.int64),
                          u64(docs_l), u64(freqs_l), u64(pos_l), 0,
                          u64(st_l), u64(ln_l))
    assert pdf["ostart_blob"].notna().all()
    got = decode_positions(pdf.sample(frac=1, random_state=5), True)
    assert got[0] == terms and got[1].tolist() == offsets
    assert [a.tolist() for a in got[2:]] == \
        [docs_l, freqs_l, pos_l, st_l, ln_l]


def test_positional_build_handles_unordered_partitions(spark, docs):
    """Range partitioning does not sort within partitions — a build over
    rows arriving doc-DESCENDING must equal the ordered build (the
    doc-order guard reorders docs and gathers position slices along)."""
    ordered = docs.repartitionByRange(3, "doc_id") \
                  .sortWithinPartitions("doc_id")
    reversed_ = docs.repartitionByRange(3, "doc_id") \
                    .sortWithinPartitions(F.desc("doc_id"))
    a = positional_postings(ordered, "doc_id", "text")
    b = positional_postings(reversed_, "doc_id", "text")
    key = lambda df: {
        (r["term"], r["rbucket"], r["block_no"], r["first_doc"],
         r["last_doc"], bytes(r["doc_blob"]), bytes(r["freq_blob"]),
         bytes(r["pos_blob"])) for r in df.collect()}
    assert key(a) == key(b)
    got = {r["doc_id"]: r["n_matches"]
           for r in phrase_match(b, "merge join").collect()}
    want = _oracle(docs.collect(), "merge join")
    assert got == want and got


def test_positional_flush_identical_phrases(spark):
    """Multi-flush positional build (tiny flush budget, doc-unsorted
    partition) must produce identical phrase results to single-flush."""
    import pandas as pd

    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, positional_postings)

    rows = [(i, f"alpha beta gamma{i % 3} delta alpha beta")
            for i in range(120)]
    rows = rows[1::2] + rows[0::2]  # doc-unsorted
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])).coalesce(1)
    small = positional_postings(docs, "doc_id", "text",
                                flush_positions=100).cache()
    big = positional_postings(docs, "doc_id", "text").cache()
    assert small.select("rbucket").distinct().count() > 3
    assert big.select("rbucket").distinct().count() == 1
    for phrase in ("alpha beta", "beta gamma1 delta"):
        a = [(r["doc_id"], r["n_matches"])
             for r in phrase_match(small, phrase).collect()]
        b = [(r["doc_id"], r["n_matches"])
             for r in phrase_match(big, phrase).collect()]
        assert a == b and a
    small.unpersist()
    big.unpersist()


# ------------------------------------------------------- char offsets (r4)
def test_offsets_roundtrip_simple(spark, docs):
    """store_offsets=True: first_match_span returns the exact char span
    of the earliest matching token — verified against re.finditer on
    the source text (brute force)."""
    import re

    from php_lucene_analyzer_spark.operators.positional import (
        first_match_span, positional_postings)

    pat = re.compile("[a-z0-9]+")

    def spans(text):
        return [(m.group(0), m.start(), m.end())
                for m in pat.finditer((text or "").lower())]

    sub = docs.filter("doc_id < 150").select("doc_id", "text")
    pos = positional_postings(sub.repartitionByRange(8, "doc_id"),
                              "doc_id", "text", spans_fn=spans,
                              store_offsets=True).cache()
    terms = ["merge", "stream"]
    got = {r["doc_id"]: (r["first_pos"], r["start"], r["end"])
           for r in first_match_span(pos, terms).collect()}
    want = {}
    for row in sub.collect():
        best = None
        for i, (t, s, e) in enumerate(spans(row["text"])):
            if t in terms and (best is None or i < best[0]):
                best = (i, s, e)
        if best:
            want[row["doc_id"]] = best
    assert got == want and got
    # spans slice back to a query term
    texts = {r["doc_id"]: r["text"] for r in sub.collect()}
    for d, (_, s, e) in got.items():
        assert texts[d][s:e].lower() in terms
    pos.unpersist()


def test_offsets_full_chain_and_compaction(spark, docs):
    """Full-chain offsets (Token.start/end through WDGF/stop/stem) slice
    real source text; compaction preserves spans bit-for-bit."""
    from php_lucene_analyzer_spark.analysis import analyze
    from php_lucene_analyzer_spark.operators.positional import (
        compact_index, first_match_span)
    from php_lucene_analyzer_spark.operators.postings import (
        _index_blocks, _split_blocks)

    sub = docs.filter("doc_id < 100").select("doc_id", "text")
    blocks = _index_blocks(sub.repartitionByRange(8, "doc_id"), "doc_id",
                           ["text"], positions=True, store_offsets=True,
                           flush_tokens=500).cache()
    post, pos = _split_blocks(blocks)
    terms = ["fast", "merg"]   # post-stem vocabulary
    got = {r["doc_id"]: (r["first_pos"], r["start"], r["end"])
           for r in first_match_span(pos, terms).collect()}
    # brute force over the chain's token graph
    want = {}
    for row in sub.collect():
        p = -1
        best = None
        for t in analyze(row["text"] or ""):
            p += t.pos_inc
            if t.term in terms:
                cand = (p, t.start, t.end)
                if best is None or cand < best:
                    best = cand
        if best:
            want[row["doc_id"]] = best
    assert got == want and got
    comp = compact_index(post, pos)[1].cache()
    got_c = {r["doc_id"]: (r["first_pos"], r["start"], r["end"])
             for r in first_match_span(comp, terms).collect()}
    assert got_c == got
    # offset-less queries still work on the offsets layout
    from php_lucene_analyzer_spark.operators.positional import phrase_match
    a = sorted((r["doc_id"], r["n_matches"])
               for r in phrase_match(pos, "fast merge").collect())
    b = sorted((r["doc_id"], r["n_matches"])
               for r in phrase_match(comp, "fast merge").collect())
    assert a == b
    blocks.unpersist(); comp.unpersist()


def test_engine_snippets(spark, docs):
    """FulltextIndex.build(offsets=True) -> snippets(): the returned
    text window contains the matched token at the stated span."""
    from php_lucene_analyzer_spark.engine import FulltextIndex

    sub = docs.filter("doc_id < 80").select("doc_id", "text")
    idx = FulltextIndex.build(spark, sub, ["doc_id"], text_col="text",
                              positional=True, offsets=True)
    try:
        rows = idx.snippets("merge stream", sub, id_col="doc_id",
                            text_col="text", pad=10).collect()
        assert rows
        texts = {r["doc_id"]: r["text"] for r in sub.collect()}
        from php_lucene_analyzer_spark.analysis.porter2 import stem
        qterms = set(idx._terms("merge stream"))
        for r in rows:
            tok = texts[r["doc_id"]][r["start"]:r["end"]]
            assert stem(tok.lower()) in qterms
            assert tok.lower() in r["snippet"].lower()
    finally:
        idx.close()


def test_offsetless_index_raises_on_span_query(spark, docs):
    from php_lucene_analyzer_spark.engine import FulltextIndex

    sub = docs.filter("doc_id < 20").select("doc_id", "text")
    idx = FulltextIndex.build(spark, sub, ["doc_id"], text_col="text",
                              positional=True)
    try:
        import pytest as _pytest
        with _pytest.raises(Exception):
            idx.snippet_spans("merge").collect()
    finally:
        idx.close()


# ------------------------------------------------------ phrase slop (r4)
def test_phrase_match_slop_matches_bruteforce(spark, docs):
    """slop>0 = span-near(inOrder=false): every distinct phrase term in
    a window with span excess <= slop; n_matches counts minimal
    qualifying windows.  Verified against an independent O(m²)
    enumerate-all-windows reference."""
    import re

    from php_lucene_analyzer_spark.operators.positional import (
        phrase_match, positional_postings)

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text):
        return [t for t in pat.split((text or "").lower()) if t]

    sub = docs.filter("doc_id < 150").select("doc_id", "text")
    pos = positional_postings(sub.repartitionByRange(8, "doc_id"),
                              "doc_id", "text",
                              terms_fn=simple_terms).cache()

    def brute(doc_toks, terms, slop):
        k = len(terms)
        occ = sorted((p, t) for p, t in enumerate(doc_toks)
                     if t in terms)
        n = 0
        for li in range(len(occ)):
            for ri in range(li, len(occ)):
                window = occ[li:ri + 1]
                if {t for _, t in window} != set(terms):
                    continue
                # minimal: endpoints are the sole carriers of their term
                if any(t == window[0][1] for _, t in window[1:]):
                    continue
                if ri > li and any(t == window[-1][1]
                                   for _, t in window[:-1]):
                    continue
                if (window[-1][0] - window[0][0]) - (k - 1) <= slop:
                    n += 1
                break  # only the minimal window starting at li
        return n

    texts = {r["doc_id"]: simple_terms(r["text"])
             for r in sub.collect()}
    for phrase, slop in (("fast join", 4), ("merge stream", 8),
                         ("window sort table", 6)):
        terms = sorted(set(phrase.split()))
        got = {r["doc_id"]: r["n_matches"] for r in
               phrase_match(pos, phrase, terms_fn=simple_terms,
                            slop=slop, slop_mode="span").collect()}
        want = {}
        for d, toks in texts.items():
            nm = brute(toks, terms, slop)
            if nm:
                want[d] = nm
        assert got == want and got, (phrase, slop)
    # slop=0 path untouched: exact adjacency still works
    t0 = texts[0][:2]
    exact = phrase_match(pos, " ".join(t0), terms_fn=simple_terms)
    assert exact.count() > 0
    pos.unpersist()
