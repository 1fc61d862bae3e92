"""Grammar fuzz: randomly generated classic-Lucene query strings must
never crash the parse -> compile -> serve path, and the batched serving
path must stay bit-identical to per-query query() on every generated
set.  Deterministic seed — the corpus of generated queries is frozen
per test run shape, so failures reproduce."""

import random

import pytest

from php_lucene_analyzer_spark.engine import FulltextIndex

TERMS = ["fast", "merge", "join", "stream", "value", "slow", "window",
         "order", "batch", "spark", "zzznope"]


@pytest.fixture(scope="module")
def fidx(spark, docs):
    i = FulltextIndex.build(spark, docs.select("doc_id", "text"),
                            ["doc_id"], text_col="text",
                            positional=True)
    yield i
    i.close()


def _gen_atom(rng: random.Random) -> str:
    kind = rng.choice(["term", "term", "term", "phrase", "slop",
                       "prefix", "fuzzy", "wildcard", "range"])
    t = rng.choice(TERMS)
    if kind == "term":
        return t + (f"^{rng.choice([2, 0.5])}" if rng.random() < .2
                    else "")
    if kind == "phrase":
        return f'"{rng.choice(TERMS)} {rng.choice(TERMS)}"'
    if kind == "slop":
        return (f'"{rng.choice(TERMS)} {rng.choice(TERMS)}"'
                f"~{rng.randint(1, 6)}")
    if kind == "prefix":
        return t[:3] + "*"
    if kind == "fuzzy":
        return t + "~" + rng.choice(["", "1", "2"])
    if kind == "wildcard":
        return t[:2] + "?" + t[3:4] + "*"
    lo, hi = sorted(rng.sample(TERMS, 2))
    return f"[{lo} TO {hi}]"


def _gen_clause(rng: random.Random, depth: int) -> str:
    occ = rng.choice(["", "", "+", "-"])
    if depth < 1 and rng.random() < .3:
        inner = " ".join(_gen_clause(rng, depth + 1)
                         for _ in range(rng.randint(2, 3)))
        if rng.random() < .5:
            parts = [_gen_atom(rng) for _ in range(2)]
            inner = f" OR ".join(parts)
        return f"{occ}({inner})"
    return occ + _gen_atom(rng)


def _gen_query(rng: random.Random) -> str:
    n = rng.randint(1, 4)
    parts = [_gen_clause(rng, 0) for _ in range(n)]
    q = " ".join(parts)
    if rng.random() < .3:
        i = rng.randrange(len(parts) - 1) if len(parts) > 1 else 0
        parts.insert(i + 1, rng.choice(["AND", "OR"]))
        q = " ".join(parts)
    return q


def test_fuzzed_queries_never_crash(fidx):
    """200 random grammar-valid queries parse, compile and execute
    (possibly to empty results) without raising."""
    rng = random.Random(20260817)
    ran = 0
    for _ in range(200):
        q = _gen_query(rng)
        try:
            fidx.query(q, k=3).collect()
            ran += 1
        except ValueError as ex:
            # only the DOCUMENTED rejection may surface
            assert "dangling" in str(ex), (q, str(ex))
    assert ran >= 150          # the generator mostly emits servable forms


def test_fuzzed_query_many_bit_identical(fidx):
    """Random query SETS through the batched path == per-query
    query(), bit for bit (scores included)."""
    rng = random.Random(97)
    batch = {}
    while len(batch) < 12:
        q = _gen_query(rng)
        try:
            from php_lucene_analyzer_spark.querycompile import (
                compile_query)
            from php_lucene_analyzer_spark.queryparser import parse_query
            compile_query(parse_query(q), fidx._terms, None, 0, 64)
        except ValueError:
            continue
        batch[f"q{len(batch)}"] = q
    want = {qid: sorted(((r["doc_id"], r["score"])
                         for r in fidx.query(q, k=6).collect()),
                        key=lambda x: (-x[1], x[0]))
            for qid, q in batch.items()}
    got: dict[str, list] = {qid: [] for qid in batch}
    for r in fidx.query_many(batch, k=6).collect():
        got[r["qid"]].append((r["doc_id"], r["score"]))
    for qid in batch:
        got[qid].sort(key=lambda x: (-x[1], x[0]))
        assert got[qid] == want[qid], (qid, batch[qid])
