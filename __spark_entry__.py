"""Driver contract for the spark-graft builder (PySpark target).

``entry``      — flagship: full Lucene-parity analysis chain -> posting
                 blocks -> block-max WAND BM25 top-10, on sf0.001.
``queries``    — operator coverage per SURVEY.md §2; each callable takes
                 (spark, sf_dir) and returns a DataFrame.
``oracle_sql`` — DuckDB-runnable ANSI SQL equivalents (same column names,
                 types aligned, floats rounded at the contract boundary).

The single entry present in ``queries`` but not ``oracle_sql`` is the
genuinely non-SQL-expressible one (``wand_fullchain``: the full analyzer
chain + WAND engine — a SQL oracle cannot tokenize with WDGF/Porter2);
it is validated by golden vectors pinned below and a pure-pandas oracle
in tests/ (rows-only check here).  Since r5 the full-chain SCORER is
additionally value-checked by ``wand_fullchain_sql``: the chain's token
table materializes to parquet inside the Spark callable and the DuckDB
oracle recomputes BM25 top-10 from it in pure SQL (r4 VERDICT item 9) —
tokenization Spark-side, scoring independently verified.  phrase/
simhash/lsh entries run the REAL engine operators (positional index,
Arrow-batched simhash, banded LSH) in their SQL-reproducible
configuration, so the driver's value-hash gate covers them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

FLAGSHIP_QUERY = "fast merge join order"


def _fullchain_wand(spark: SparkSession, sf_dir: str,
                    queries: dict[str, str]) -> DataFrame:
    """Full-chain engine: analyze -> postings -> WAND topk per query."""
    from php_lucene_analyzer_spark.operators import fulltext as ft
    from php_lucene_analyzer_spark.operators.postings import index_corpus
    from php_lucene_analyzer_spark.operators.wand import wand_topk_many

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tdf = ft.term_doc_freqs(docs, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"),
        "doc_id", "text").cache()
    # whole query set in ONE Spark job (bit-identical to per-query WAND);
    # materialize, then UNPERSIST the build caches — the driver calls
    # these entries repeatedly and each call mints fresh plans, so
    # leaked caches would accumulate until eviction thrash
    res = wand_topk_many(postings, tstats, n, avgdl, queries, k=10)
    rows = res.collect()
    schema = res.schema
    for df in (tdf, tstats, postings):
        df.unpersist()
    return spark.createDataFrame(rows, schema)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _fullchain_wand(spark, "/root/testdata/sf0.001",
                           {"flagship": FLAGSHIP_QUERY})


# Frozen golden top-10 for the wand_fullchain suite (qid, doc_id,
# round(score, 4)) — the driver's check for this entry is rows-only (no
# SQL oracle can run the WDGF+Porter2 chain), so the entry pins its own
# values: a scorer/analyzer drift fails HERE, at the driver, not only in
# pytest.  Regenerate with scripts/freeze_wand_golden.py after any
# intentional chain/scoring change.
_WAND_GOLDEN: dict[str, list[tuple[str, int, float]]] = {}


def _load_wand_golden() -> None:
    import json
    import os
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tests", "fixtures", "wand_fullchain_golden.json")
    if os.path.exists(p):
        with open(p) as f:
            raw = json.load(f)
        _WAND_GOLDEN.update({
            sf: [(r[0], int(r[1]), float(r[2])) for r in rows]
            for sf, rows in raw.items()})


_load_wand_golden()


def _check_wand_golden(sf_dir: str, rows) -> None:
    import os
    key = os.path.basename(os.path.normpath(sf_dir))
    golden = _WAND_GOLDEN.get(key)
    if golden is None:
        return
    got = sorted((r["qid"], int(r["doc_id"]), round(float(r["score"]), 4))
                 for r in rows)
    if got != sorted(golden):
        raise AssertionError(
            f"wand_fullchain drifted from the frozen golden fixture at "
            f"{key}: got {got[:5]}... expected {sorted(golden)[:5]}...")


def _wand_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = _fullchain_wand(spark, sf_dir, {
        "w1": FLAGSHIP_QUERY,
        "w2": "the spark stream batch",
        "w3": "window sort vector",
    })
    # _fullchain_wand returns a small recreated DataFrame (k x 3 rows) —
    # collecting it again is driver-local and bounded
    _check_wand_golden(sf_dir, res.collect())
    return res


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from php_lucene_analyzer_spark.queries import QUERIES

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = dict(QUERIES)
    out["wand_fullchain"] = _wand_suite  # rows-only: non-SQL-expressible
    return out


def oracle_sql() -> dict[str, str]:
    from php_lucene_analyzer_spark.oracles import ORACLES

    return dict(ORACLES)
