"""Driver-contract query suite (SURVEY.md §2 coverage, oracle-matched).

Every function here takes (spark, sf_dir) and returns a DataFrame whose
row-set matches the DuckDB SQL in ``oracles.py`` exactly (same column
names, types aligned, floats rounded at the contract boundary).

Design rule: these run 100% JVM-side (built-in pyspark.sql.functions —
whole-stage codegen, pushdown, broadcast joins).  The *simplified SQL
analyzer* used here (lower + [^a-z0-9]+ split + stop list) exists so the
relational skeleton (explode, aggs, windows, joins, top-k) is verifiable
against an independent engine; the full Lucene-parity chain (WDGF,
Porter2, position graph) is exercised by the pandas-UDF path and checked
by golden vectors + the pure-pandas oracle in tests/.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .analysis.filters import ENGLISH_STOP_WORDS
from .operators.fulltext import B, K1

STOPWORDS = sorted(ENGLISH_STOP_WORDS)

# fixed BM25 query set (terms from the documents vocabulary)
BM25_QUERIES = {
    "q1": ["fast", "merge", "join"],
    "q2": ["window", "order", "sort", "table"],
    "q3": ["spark", "stream", "batch"],
    "q4": ["slow", "customer", "value"],
}

# full-chain WAND contract set (r5, VERDICT item 9): the Lucene-parity
# chain tokenizes Spark-side, the token table dumps to parquet, and the
# DuckDB oracle recomputes BM25 top-10 from that table — the SCORER is
# value-checked even though no SQL engine can run WDGF+Porter2
FULLCHAIN_WAND_QUERIES = {
    "w1": "fast merge join order",
    "w2": "the spark stream batch",
    "w3": "window sort vector",
}


def fullchain_dump_path(sf_dir: str) -> str:
    import os
    base = os.path.basename(os.path.normpath(sf_dir))
    return f"/tmp/plas_fullchain_{base}.parquet"


ANN_N_QUERIES = 5
ANN_K = 5

# MinHash-LSH contract parameters (md5-based so DuckDB reproduces the
# signatures value-for-value; oracles.py::lsh_pairs)
LSH_N_HASHES = 16
LSH_BANDS = 4
LSH_MIN_JACCARD = 0.5

# phrase contract set (simplified tokenization, positions = token index)
PHRASE_QUERIES = {
    "p1": "merge join",
    "p2": "fast merge join",
    "p3": "the spark stream",
}

# sloppy-phrase contract set (r5): (phrase, slop) under Lucene
# SloppyPhraseScorer accounting (phrase_match slop_mode="lucene" — the
# classic parser's "a b"~n).  sp2 is sp1 transposed at a slop where the
# order-sensitivity of the accounting shows in the results (a
# transposition costs 2).  Repeat-free phrases only: the SQL oracle
# enumerates occurrence tuples without distinctness bookkeeping (the
# repeated-term path is covered by the property tests'
# distinct-assignment brute force).
SLOPPY_QUERIES = {
    "sp1": ("merge join", 3),
    "sp2": ("join merge", 2),
    "sp3": ("fast scan table", 4),
}

# highlight contract set: query terms (any-of) + snippet half-window
HIGHLIGHT_QUERIES = {
    "h1": ["merge", "join"],
    "h2": ["stream"],
    "h3": ["customer", "value"],
}
HIGHLIGHT_WINDOW = 3

# decontamination contract: docs sharing a 13-gram (the published LLM-
# pipeline default) with the "benchmark" slice doc_id < DECONTAM_BENCH
DECONTAM_N = 13
DECONTAM_BENCH = 100

# boolean contract set (Lucene BooleanQuery roles: MUST all match,
# SHOULD >= msm match, MUST_NOT excludes; pure-SHOULD queries require
# max(msm, 1)).  Terms from the documents vocabulary; clause sets kept
# disjoint within a query so no term scores twice.
BOOL_QUERIES = {
    "b1": {"must": ["fast", "merge", "join"], "should": [],
           "must_not": [], "msm": 0},
    "b2": {"must": [], "should": ["window", "order", "sort", "table"],
           "must_not": [], "msm": 3},
    "b3": {"must": ["stream"], "should": ["batch", "spark"],
           "must_not": ["slow"], "msm": 1},
    "b4": {"must": ["customer"], "should": [], "must_not": ["dup"],
           "msm": 0},
}

# grouped-boolean contract set (round 4): classic-QueryParser strings
# with parenthesized OR-groups, compiled onto the nested tree kernel
# (operators/boolean.py::boolean_tree_topk) over a REAL posting index
# built with the simplified tokenization — every group is a pure
# OR-group and clause terms are disjoint within a query, so the DuckDB
# oracle reproduces candidates (group-hit algebra) and scores
# (per-present-term BM25 sum) exactly.
GBOOL_QUERIES = {
    "g1": "(fast OR merge) AND stream",
    "g2": "(window OR order) (sort OR table) -slow",
    "g3": "+customer (value OR dup) (fast OR slow)",
    "g4": "(spark OR stream) AND (batch OR join) -dup",
}
# (qid, gid, term, role) rows + (qid, n_must_groups, eff_msm) — the
# compiled shape of GBOOL_QUERIES, duplicated declaratively so the SQL
# oracle is independent of the parser
GBOOL_CLAUSES = {
    "g1": [("m", 0, ["fast", "merge"]), ("m", 1, ["stream"])],
    "g2": [("s", 0, ["window", "order"]), ("s", 1, ["sort", "table"]),
           ("n", 2, ["slow"])],
    "g3": [("m", 0, ["customer"]), ("s", 1, ["value", "dup"]),
           ("s", 2, ["fast", "slow"])],
    "g4": [("m", 0, ["spark", "stream"]), ("m", 1, ["batch", "join"]),
           ("n", 2, ["dup"])],
}

# term-range contract set (round 4): [lo TO hi] / {lo TO hi} scans on
# the sorted term dictionary (TermRangeQuery role; min/max-prunable)
RANGE_QUERIES = {
    "r1": ("merge", "order", True, True),
    "r2": ("s", "t", True, False),
    "r3": (None, "c", True, True),      # open lower bound
}

# more-like-this contract set: source doc ids whose top tf·idf terms
# seed a similarity query (Lucene MoreLikeThis role)
MLT_DOCS = [7, 42, 123]
MLT_MAX_TERMS = 5
MLT_K = 10

# fuzzy-term contract set: (query, max_edits) — misspellings of
# documents-vocabulary terms (the automaton package's FuzzyQuery role)
# spell-suggest contract set: misspellings; DirectSpellChecker ranking
SUGGEST_QUERIES = {
    "s1": "vlaue",
    "s2": "stram",
    "s3": "custoner",
}
SUGGEST_K = 3

FUZZY_QUERIES = {
    "fz1": ("merge", 1),
    "fz2": ("stream", 2),
    "fz3": ("vlaue", 2),
}


def _docs(spark: SparkSession, sf_dir: str,
          spread: bool = True) -> DataFrame:
    """The documents table, by default spread to the session's
    parallelism (plans/parallel.py): the table ships as a single
    row group, so without the spread every tokenize/explode/hash map
    stage below runs on 1-2 tasks (r6 measured: the 16-md5 LSH
    signature aggregation alone was 21.7 s on 2 tasks vs 2.4 s spread).
    ``spread=False`` for callers that immediately impose their own
    partitioning (the positional-index builders repartitionByRange)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if spread:
        from .plans.parallel import spread_input
        df = spread_input(df)
    return df


def _tokens_col(col: str = "text"):
    """array<string> of non-empty lowercase [a-z0-9]+ tokens.

    array_remove instead of a filter() lambda: higher-order functions are
    interpreted per element (no whole-stage codegen) — an order of
    magnitude slower on hot paths.
    """
    return F.array_remove(F.split(F.lower(F.col(col)), "[^a-z0-9]+"), "")


def _tok_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term) — one row per token occurrence.

    Explode the raw split and filter rows (codegen'd) rather than
    filtering inside the array (interpreted lambda).
    """
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    F.explode(F.split(F.lower(F.col("text")),
                                      "[^a-z0-9]+")).alias("term"))
            .filter(F.col("term") != ""))


def q_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term frequency per (doc, term) — partial+final hash agg."""
    return (_tok_rows(spark, sf_dir)
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf")))


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc length + the per-row content sha256 invariant (input_hint)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(_tokens_col()).cast("long").alias("dl"),
        F.sha2(F.col("text"), 256).alias("content_sha256"))


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df / cf per term over the corpus."""
    return (q_tf(spark, sf_dir)
            .groupBy("term")
            .agg(F.count("*").alias("df"), F.sum("tf").alias("cf")))


def q_term_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted term dictionary with dense ids (the FST-role table).

    Uses the engine's ADAPTIVE rank (operators/fulltext.py::
    dense_rank_ids): vocabularies under SMALL_RANK_THRESHOLD take a
    single windowed sort (this corpus); a 10^9-term vocabulary takes the
    two-phase range rank with no single-partition exchange.  Ids are
    identical on both paths (global rank of the unique term key)."""
    from .operators.fulltext import SMALL_RANK_THRESHOLD, dense_rank_ids
    return (dense_rank_ids(q_term_stats(spark, sf_dir), ["term"],
                           "term_id", start=1, precache=True,
                           small_threshold=SMALL_RANK_THRESHOLD)
            .select("term_id", "term", "df", "cf"))


def _tf_for_terms(base: DataFrame, terms) -> DataFrame:
    """(doc_id, term, tf, dl) restricted to ``terms`` — the restriction
    runs BEFORE the (doc_id, term) aggregation (it commutes with a
    groupBy on its own key, so values are identical), which keeps the
    shuffle to query-term rows only instead of the full-corpus tf table
    (guide §2.3: shuffle fewer bytes).  ``terms`` is a driver-tiny query
    literal, so the isin predicate stays a codegen'd scan-side filter."""
    return (base.select("doc_id",
                        F.size("toks").cast("long").alias("dl"),
                        F.explode("toks").alias("term"))
            .filter(F.col("term").isin(sorted(terms)))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"), F.min("dl").alias("dl")))


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 per fixed query, pure DataFrame ops (JVM-side).

    Scores rounded to 4dp at the contract boundary; rank over the rounded
    score with doc_id tie-break so both engines rank identically.

    Scale shape: dl rides WITH each tf row (size of the token array,
    computed in the same scan that explodes it) — the term-restricted tf
    side never shuffle-joins the full-corpus dl table on doc_id, which
    would be a corpus-wide shuffle for a handful of query terms.  Corpus
    stats (n, avgdl) come from a separate scan-agg (no join) and
    broadcast as one row.  The query-term restriction is applied BEFORE
    the (doc_id, term) aggregation (r6, guide §2.3 — the filter commutes
    with the groupBy on its own key): only query-term token rows are
    ever aggregated or shuffled, instead of the full-corpus tf table.
    """
    # eager checkpoint of the TOKENIZED base: the tf aggregation, the
    # corpus-stats agg and the dfq broadcast each consume it, so without
    # the checkpoint every consumer re-runs the scan+tokenize (r6; the
    # q_phrase_match localCheckpoint pattern — GC-released, one corpus
    # tokenize per query invocation instead of three)
    base = _docs(spark, sf_dir) \
        .select("doc_id", _tokens_col().alias("toks")) \
        .localCheckpoint(eager=True)
    tf = _tf_for_terms(
        base, {t for ts in BM25_QUERIES.values() for t in ts})
    stats = (base.select(F.size("toks").cast("long").alias("dl"))
             .filter(F.col("dl") > 0)
             .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "qid string, term string")
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (tf.join(F.broadcast(qterms), "term")
              .join(F.broadcast(dfq), "term")
              .crossJoin(F.broadcast(stats))
              .withColumn(
                  "contrib",
                  F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5))
                  * F.col("tf") * F.lit(K1 + 1.0)
                  / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl") / F.col("avgdl"))))
              .groupBy("qid", "doc_id")
              .agg(F.round(F.sum("contrib"), 4).alias("score")))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("qid", "rank", "doc_id", "score"))


def q_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """More-like-this (Lucene MoreLikeThis role): for each source doc in
    MLT_DOCS, select its top MLT_MAX_TERMS terms by tf·idf (idf rounded
    to 4dp before ranking so a 1-ulp JVM/DuckDB libm divergence cannot
    flip the selection; tie-break term asc), then BM25 top-MLT_K over
    the corpus with those terms, the source doc excluded.

    Scale shape: the source docs' tf rows are a broadcast-sized slice
    (isin pushed to the scan — r6: BEFORE tokenization, so only the
    source docs ever analyze on that branch); term selection is a tiny
    window over that slice; candidate scoring reuses the q_bm25_topk
    shape (dl rides with tf; only source-term rows aggregate or shuffle
    — the corpus tf table is semi-restricted to the source docs' terms
    BEFORE its groupBy, guide §2.3)."""
    # tokenized base checkpointed once — every frame below (stats,
    # src_tf, tf, dfs, seed, scored) derives from it without re-running
    # the scan+tokenize (see q_bm25_topk)
    base = _docs(spark, sf_dir) \
        .select("doc_id", _tokens_col().alias("toks")) \
        .localCheckpoint(eager=True)
    stats = (base.select(F.size("toks").cast("long").alias("dl"))
             .filter(F.col("dl") > 0)
             .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")))
    src_tf = (base.filter(F.col("doc_id").isin(MLT_DOCS))
              .select("doc_id", F.explode("toks").alias("term"))
              .groupBy("doc_id", "term")
              .agg(F.count("*").alias("tf"))
              .select(F.col("doc_id").alias("src_doc"), "term", "tf"))
    tf = (base.select("doc_id",
                      F.size("toks").cast("long").alias("dl"),
                      F.explode("toks").alias("term"))
          .join(F.broadcast(src_tf.select("term").distinct()), "term")
          .groupBy("doc_id", "term")
          .agg(F.count("*").alias("tf"), F.min("dl").alias("dl")))
    dfs = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf_c = F.round(
        F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
              / (F.col("df") + 0.5)), 4)
    wsel = Window.partitionBy("src_doc").orderBy(
        F.desc("tscore"), F.asc("term"))
    seed = (src_tf.join(F.broadcast(dfs), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("tscore", F.round(F.col("tf") * idf_c, 4))
            .withColumn("_r", F.row_number().over(wsel))
            .filter(F.col("_r") <= MLT_MAX_TERMS)
            .select("src_doc", "term"))
    scored = (tf.join(F.broadcast(seed), "term")
              .join(F.broadcast(dfs), "term")
              .crossJoin(F.broadcast(stats))
              .filter(F.col("doc_id") != F.col("src_doc"))
              .withColumn(
                  "contrib",
                  F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                        / (F.col("df") + 0.5))
                  * F.col("tf") * F.lit(K1 + 1.0)
                  / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl")
                                         / F.col("avgdl"))))
              .groupBy("src_doc", "doc_id")
              .agg(F.round(F.sum("contrib"), 4).alias("score")))
    w = Window.partitionBy("src_doc").orderBy(F.desc("score"),
                                              F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= MLT_K)
            .select("src_doc", "rank", "doc_id", "score"))


def q_facet_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-result faceting: for each BM25 query, the full disjunctive
    match set (any query term present) grouped by the documents' `source`
    dimension — (qid, source, n_docs, max_score).  The facet join is a
    broadcast of the dimension columns' slice; the match set never
    collects."""
    # tokenized base checkpointed once — consumed by tf, stats, dfq and
    # the final source join (see q_bm25_topk); term restriction before
    # the tf aggregation (guide §2.3; see _tf_for_terms)
    base = _docs(spark, sf_dir) \
        .select("doc_id", "source", _tokens_col().alias("toks")) \
        .localCheckpoint(eager=True)
    tf = _tf_for_terms(
        base, {t for ts in BM25_QUERIES.values() for t in ts})
    stats = (base.select(F.size("toks").cast("long").alias("dl"))
             .filter(F.col("dl") > 0)
             .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, ts in BM25_QUERIES.items() for t in ts],
        "qid string, term string")
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    per_doc = (tf.join(F.broadcast(qterms), "term")
               .join(F.broadcast(dfq), "term")
               .crossJoin(F.broadcast(stats))
               .withColumn(
                   "contrib",
                   F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                         / (F.col("df") + 0.5))
                   * F.col("tf") * F.lit(K1 + 1.0)
                   / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl")
                                          / F.col("avgdl"))))
               .groupBy("qid", "doc_id")
               .agg(F.round(F.sum("contrib"), 4).alias("score")))
    return (per_doc.join(base.select("doc_id", "source"), "doc_id")
            .groupBy("qid", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.max("score").alias("max_score")))


def q_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean retrieval top-10 per fixed query (BOOL_QUERIES) — Lucene
    BooleanQuery semantics on the relational path (the engine-index twin
    is operators/boolean.py::boolean_topk, a depth-1 tree over the
    boolean_tree_topk kernel):

      must_hit == n_must AND should_hit >= msm AND no must_not term,
      score = BM25 sum over matched must+should clauses (must_not never
      scores).

    Scale shape, same as q_bm25_topk: dl rides with each tf row; the
    clause table and per-query requirements broadcast; the only corpus
    shuffle is the tf groupBy.  Clause algebra is one aggregate over the
    clause-joined tf rows — count(DISTINCT term) per role — not a join
    per clause."""
    # tokenized base checkpointed once (see q_bm25_topk); clause-term
    # restriction (ALL roles — must_not detection needs the "n" rows)
    # BEFORE the tf aggregation (guide §2.3; see _tf_for_terms)
    base = _docs(spark, sf_dir) \
        .select("doc_id", _tokens_col().alias("toks")) \
        .localCheckpoint(eager=True)
    tf = _tf_for_terms(
        base, {t for c in BOOL_QUERIES.values()
               for ts in (c["must"], c["should"], c["must_not"])
               for t in ts})
    stats = (base.select(F.size("toks").cast("long").alias("dl"))
             .filter(F.col("dl") > 0)
             .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl")))
    clauses = spark.createDataFrame(
        [(qid, t, role)
         for qid, c in BOOL_QUERIES.items()
         for role, ts in (("m", c["must"]), ("s", c["should"]),
                          ("n", c["must_not"]))
         for t in ts],
        "qid string, term string, role string")
    reqs = spark.createDataFrame(
        [(qid, len(c["must"]),
          c["msm"] if c["must"] else max(c["msm"], 1))
         for qid, c in BOOL_QUERIES.items()],
        "qid string, n_must long, msm long")
    dfq = (tf.join(F.broadcast(clauses.filter(F.col("role") != "n")
                               .select("term").distinct()), "term")
           .groupBy("term").agg(F.count("*").alias("df")))
    contrib = (F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5)
                     / (F.col("df") + 0.5))
               * F.col("tf") * F.lit(K1 + 1.0)
               / (F.col("tf") + K1 * (1.0 - B + B * F.col("dl")
                                      / F.col("avgdl"))))
    per_doc = (tf.join(F.broadcast(clauses), "term")
               .join(F.broadcast(dfq), "term", "left")
               .crossJoin(F.broadcast(stats))
               .groupBy("qid", "doc_id")
               .agg(F.round(F.sum(F.when(F.col("role") != "n", contrib)
                                  .otherwise(F.lit(0.0))), 4).alias("score"),
                    F.countDistinct(
                        F.when(F.col("role") == "m", F.col("term")))
                    .alias("must_hit"),
                    F.countDistinct(
                        F.when(F.col("role") == "s", F.col("term")))
                    .alias("should_hit"),
                    F.max(F.when(F.col("role") == "n", F.lit(1))
                          .otherwise(F.lit(0))).alias("not_hit")))
    kept = (per_doc.join(F.broadcast(reqs), "qid")
            .filter((F.col("must_hit") == F.col("n_must"))
                    & (F.col("should_hit") >= F.col("msm"))
                    & (F.col("not_hit") == 0)))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (kept.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("qid", "rank", "doc_id", "score"))


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + quality scoring (training-data pipeline op)."""
    tok = _tok_rows(spark, sf_dir)
    n_stop = F.sum(F.when(F.col("term").isin(STOPWORDS), 1).otherwise(0))
    agg = tok.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg(F.length("term")), 4).alias("avg_token_len"),
        F.round(n_stop / F.count("*"), 4).alias("stop_ratio"),
        # is_english compares the UNROUNDED ratio, same as the oracle —
        # a ratio in (0.05, 0.05005) must not flip via the 4dp rounding
        (n_stop / F.count("*") > 0.05).alias("is_english"))
    return agg.select("doc_id", "n_tokens", "avg_token_len", "stop_ratio",
                      "is_english")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint (dedup key): md5 of ws-collapsed lower."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")),
                                      r"\s+", " "))).alias("fingerprint"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash -> (hash, n, keeper=min doc_id)."""
    # spread=False: one cheap sha2 pass — repartitioning the raw text
    # costs more than 32-way hashing gains (r6 measured)
    return (_docs(spark, sf_dir, spread=False)
            .select("doc_id", F.sha2(F.col("text"), 256).alias("h"))
            .groupBy("h")
            .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper")))


def _shingle_rows(spark: SparkSession, sf_dir: str,
                  k: int = 3) -> DataFrame:
    """(doc_id, s) — one row per word k-shingle, built with array ops on
    the UN-EXPLODED token array.

    The transform(sequence(...)) lambda is interpreted per element, but
    it runs map-side on each doc's own array — the alternative
    (posexplode + lead() over a per-doc window) shuffles and sorts EVERY
    TOKEN of the corpus just to pair neighbors, which is the dominant
    cost at 100x scale.  Docs with < k tokens have no shingles and drop
    out (both engines)."""
    base = _docs(spark, sf_dir).select("doc_id", _tokens_col().alias("toks"))
    t = F.col("toks")
    sh = F.when(
        F.size(t) >= k,
        F.transform(F.sequence(F.lit(0), F.size(t) - k),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(t, i + j + 1)
                               for j in range(k)]))
    ).otherwise(F.array().cast("array<string>"))
    return base.select("doc_id", F.explode(sh).alias("s"))


def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch (4 portable md5 permutations) over word 3-shingles.

    Shingle -> md5(salt || shingle) -> min per doc: the LSH building block
    for near-dup detection; portable because md5 is identical everywhere.
    """
    sh = _shingle_rows(spark, sf_dir)
    return sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(str(salt) + ":"), F.col("s"))))
         .alias(f"h{salt}") for salt in range(4)])


def q_jaccard_adjacent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (1-gram) Jaccard between doc d and d+1 — near-dup scoring
    shape.

    r6 restructure (guide §2.3/§2.4): the per-doc DISTINCT term set is
    computed map-side with ``array_distinct`` on the un-exploded token
    array, and adjacent docs pair through ONE doc_id equi-join of
    one-row-per-doc frames — replacing the exploded global distinct
    (a full (doc_id, term) shuffle) plus a second exploded self-join
    (two more corpus-wide term-row shuffles).  ``inter`` =
    size(array_intersect) over distinct sets == the exploded join's
    per-doc match count; pairs with an empty intersection are absent
    from the exploded inner join, reproduced by the inter >= 1 filter
    (docs with zero tokens carry NULL/empty sets and drop the same way).
    """
    base = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(_tokens_col()).alias("ts"))
    nxt = base.select((F.col("doc_id") - 1).alias("doc_id"),
                      F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect(F.col("ts"), F.col("ts_b")))
    return (base.join(nxt, "doc_id")
            .withColumn("inter", inter.cast("long"))
            .filter(F.col("inter") >= 1)
            .select("doc_id", "inter",
                    F.round(F.col("inter")
                            / (F.size("ts") + F.size("ts_b")
                               - F.col("inter")), 4)
                    .alias("jaccard")))


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (ANN baseline): first 5 vectors vs all.

    Dot/norms computed element-wise in float64 in array order (zip_with +
    aggregate) — deterministic float semantics; broadcast the query side.
    """
    from .plans.parallel import spread_input
    emb = spread_input(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    to_d = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", to_d.alias("e"))
    qs = base.filter(F.col("vec_id") < ANN_N_QUERIES) \
             .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    dot = F.aggregate(F.zip_with("qe", "e", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = (lambda c: F.sqrt(F.aggregate(
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0.0), lambda acc, x: acc + x)))
    sims = (base.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id",
                    F.round(dot / (nrm("qe") * nrm("e")), 4).alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (sims.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= ANN_K)
            .select("qid", "rank", "vec_id", "cosine"))


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: scan-filter-agg with the full 8 aggregates (pushdown
    check; sum_charge exercises a 3-column expression)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
                 F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2)
                  .alias("sum_charge"),
                 F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                 F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
                 F.round(F.avg("l_discount"), 6).alias("avg_disc"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-join + agg + top-k: revenue per nation via customer dim."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (orders
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
                 F.count("*").alias("n_orders"))
            .orderBy(F.desc("revenue"), F.asc("n_name"))
            .limit(10))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization over events: lag + gap>30min cumsum (window fns)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; session TZ pinned UTC so the
    # cast matches DuckDB's naive epoch_us exactly
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gaps = ev.withColumn(
        "new_sess",
        F.when(us - F.lag(us).over(w) > 1_800_000_000, 1)
         .otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)))
    return (gaps.groupBy("user_id")
            .agg(F.sum("new_sess").alias("n_sessions"),
                 F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 4).alias("total_value")))


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events.props column (SURVEY §2-B
    'JSON fns'): extract, cast, aggregate."""
    from .plans.parallel import spread_input
    # single-row-group table: spread so the per-row JSON parse uses the
    # whole machine (r6; measured 2.26 -> 1.38 s at sf1.0)
    ev = spread_input(spark.read.parquet(f"{sf_dir}/events.parquet"))
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("k").alias("sum_k"),
                 F.round(F.avg("k"), 6).alias("avg_k"),
                 F.min("k").alias("min_k"), F.max("k").alias("max_k")))


def q_prefix_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard/regex term matching (SURVEY A19): the automaton package's
    role collapses to predicates on the sorted term dictionary — prefix =
    range scan (min/max-prunable), regex = rlike."""
    td = q_term_dict(spark, sf_dir)
    return (td.filter(F.col("term").startswith("s")
                      | F.col("term").rlike("^.a.+r$"))
            .select("term_id", "term", "df"))


def q_fuzzy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance term expansion over the term dictionary (SURVEY A19
    fuzzy role, operators/fulltext.py::fuzzy_expand): length-band prune
    (scan-level predicate) + built-in levenshtein — no DFA, no UDF, no
    shuffle beyond the dictionary build."""
    from .operators.fulltext import fuzzy_expand
    # one tf/term-stats evaluation shared by all three union branches
    # (r6): without the checkpoint each branch's subtree re-runs the
    # full corpus tokenize+agg (localCheckpoint is GC-released with the
    # returned DataFrame — the q_phrase_match pattern, vocab-bounded)
    ts = q_term_stats(spark, sf_dir).localCheckpoint(eager=True)
    out = None
    for qid, (q, d) in FUZZY_QUERIES.items():
        m = (fuzzy_expand(ts, q, max_edits=d)
             .select(F.lit(qid).alias("qid"), "term", "df",
                     F.col("dist").cast("long").alias("dist")))
        out = m if out is None else out.unionAll(m)
    return out


def q_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spell-correction suggestions (Lucene DirectSpellChecker role,
    operators/fulltext.py::suggest_terms): per misspelled word, the top
    SUGGEST_K dictionary terms by (edit distance asc, df desc, term asc)
    within 2 edits and a shared first letter."""
    from .operators.fulltext import suggest_terms
    # shared single evaluation across the union branches (see
    # q_fuzzy_terms)
    ts = q_term_stats(spark, sf_dir).localCheckpoint(eager=True)
    out = None
    for qid, q in SUGGEST_QUERIES.items():
        m = (suggest_terms(ts, q, max_edits=2, k=SUGGEST_K, prefix_len=1)
             .select(F.lit(qid).alias("qid"), "term", "df",
                     F.col("dist").cast("long").alias("dist")))
        out = m if out is None else out.unionAll(m)
    return out


class _SimpleAnalyzer:
    """Simplified-tokenization analyzer shim (lower + [^a-z0-9]+ split)
    for contract queries that run the REAL engine kernels in their
    SQL-reproducible configuration (the q_phrase_match pattern)."""

    import re as _re
    _pat = _re.compile("[^a-z0-9]+")

    def terms(self, text: str) -> list[str]:
        return [t for t in self._pat.split((text or "").lower()) if t]


def q_boolean_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped boolean retrieval through the FULL round-4 query path:
    classic-QueryParser strings (parenthesized OR-groups, AND/OR/NOT —
    queryparser.py) compiled onto the nested tree kernel
    (querycompile.py -> operators/boolean.py::boolean_tree_topk) over a
    real posting index built with the simplified tokenization.  Every
    (qid, rank, doc_id, score) is value-matched by the DuckDB oracle:
    group-hit candidate algebra + per-present-term BM25 sum, ranked by
    the 4dp-rounded score with doc_id tie-break (both engines rank the
    ROUNDED score, the q_bm25_topk convention)."""
    from .engine import FulltextIndex
    from .operators.postings import (corpus_stats_from_postings,
                                     index_corpus,
                                     term_stats_from_postings)

    # spread=False: the index build imposes its own doc-range partitioning
    docs = _docs(spark, sf_dir, spread=False).select("doc_id", "text")
    n_docs = docs.count()
    shim = _SimpleAnalyzer()
    # localCheckpoint, not cache: materialized once, shared by all four
    # query branches, GC-released with the returned DataFrame (the
    # q_phrase_match pattern) — and the whole entry stays collect-free.
    # r6: the index keys on the table's OWN doc_id (what the oracle keys
    # on) instead of with_doc_ids' rank — the rank was the identity on
    # these dense ids and cost a sampling pass + per-partition window +
    # counts collect + broadcast join per invocation; a doc_id range
    # partition alone gives index_corpus its disjoint-doc-set segments
    ids = docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id")
    postings = index_corpus(ids, "doc_id", "text", analyzer=shim) \
        .localCheckpoint(eager=True)
    tstats = term_stats_from_postings(postings) \
        .localCheckpoint(eager=True)
    avgdl = corpus_stats_from_postings(postings, n_docs)
    idx = FulltextIndex(spark, postings, tstats, n_docs, avgdl,
                        analyzer=shim)
    # r6: the whole query set runs through query_many — ONE expansion
    # pass + ONE tree-kernel pass for all four queries (bit-identical to
    # per-query query(); tested), instead of four sequential query()
    # chains each paying its own driver round trips
    res = idx.query_many(GBOOL_QUERIES, k=1 << 20)  # full set: rank after
    out = res.select("qid", "doc_id", F.round("score", 4).alias("score"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                          F.asc("doc_id"))
    return (out.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("qid", "rank", "doc_id", "score"))


def q_range_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-range queries (Lucene TermRangeQuery role) on the sorted
    term dictionary: inclusive/exclusive/open bounds — range predicates
    are min/max-prunable on the sorted layout (the FST range-scan
    role)."""
    td = q_term_dict(spark, sf_dir)
    out = None
    for qid, (lo, hi, incl_lo, incl_hi) in RANGE_QUERIES.items():
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col("term") >= lo if incl_lo
                           else F.col("term") > lo)
        if hi is not None:
            cond = cond & (F.col("term") <= hi if incl_hi
                           else F.col("term") < hi)
        m = td.filter(cond).select(F.lit(qid).alias("qid"), "term_id",
                                   "term", "df")
        out = m if out is None else out.unionAll(m)
    return out


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (operators/textstats.py), JVM exprs."""
    from .operators.textstats import quality_score
    return quality_score(_docs(spark, sf_dir), "doc_id", "text")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-estimate token budgets (operators/textstats.py)."""
    from .operators.textstats import token_count
    return token_count(_docs(spark, sf_dir), "doc_id", "text")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints through the REAL Arrow-batched operator
    (operators/dedup.py::simhash64) in md5 mode — the per-term hash equals
    DuckDB's md5_number_upper, so the driver oracle verifies every
    fingerprint value-for-value (64 bit-sums rebuilt in SQL)."""
    from .operators.dedup import simhash64
    return simhash64(_docs(spark, sf_dir), "doc_id", "text", hasher="md5")


def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs, fully JVM-side and
    oracle-verified: 16 md5 min-hashes over word 3-shingles, 4 bands x 4
    rows, banded bucket self-join (never O(n²)), estimated-Jaccard
    threshold.  The blake2b/mapInPandas engine variant
    (operators/dedup.py::minhash_lsh_pairs) is the same algorithm at
    64-hash strength, verified against planted duplicates in
    tests/test_dedup_ann.py."""
    sh = _shingle_rows(spark, sf_dir)
    sigs = (sh.groupBy("doc_id").agg(*[
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(LSH_N_HASHES)])
        .select("doc_id", F.array(*[f"h{i}" for i in range(LSH_N_HASHES)])
                .alias("sig")))
    # the banded SELF-join reads sigs twice (and the verify join a third
    # time); checkpoint so the shingle+16-md5 aggregation runs ONCE —
    # localCheckpoint is GC-released, so nothing leaks across the
    # driver's repeated invocations (unlike .cache())
    sigs = sigs.localCheckpoint(eager=False)
    rows_per_band = LSH_N_HASHES // LSH_BANDS
    band_cols = [
        F.struct(F.lit(b).alias("band"),
                 F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r]
                                    for r in range(rows_per_band)])
                 .alias("key"))
        for b in range(LSH_BANDS)]
    # the banded self-join carries ONLY (doc_id, band, key) — r6, guide
    # §8: decide with small rows, attach the heavy 16-hash sig payload
    # AFTER candidate pairs are deduped (the r5 shape shipped both 512 B
    # sigs through the explode, the self-join AND the pair dedup)
    buckets = (sigs.select("doc_id",
                           F.explode(F.array(*band_cols)).alias("b"))
               .select("doc_id", F.col("b.band").alias("band"),
                       F.col("b.key").alias("key")))
    a, c = buckets.alias("a"), buckets.alias("c")
    cand = (a.join(c, (F.col("a.band") == F.col("c.band"))
                   & (F.col("a.key") == F.col("c.key"))
                   & (F.col("a.doc_id") < F.col("c.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("c.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    cand = (cand.join(sigs.select(F.col("doc_id").alias("doc_a"),
                                  F.col("sig").alias("sig_a")), "doc_a")
            .join(sigs.select(F.col("doc_id").alias("doc_b"),
                              F.col("sig").alias("sig_b")), "doc_b"))
    est = (F.size(F.filter(F.zip_with("sig_a", "sig_b",
                                      lambda x, y: x == y),
                           lambda v: v))
           / F.lit(float(LSH_N_HASHES)))
    return (cand.select("doc_a", "doc_b",
                        F.round(est, 4).alias("est_jaccard"))
            .filter(F.col("est_jaccard") >= LSH_MIN_JACCARD))


def q_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase matching through the REAL positional index (block-
    packed .pos layout, rbucket-grouped evaluation — operators/
    positional.py) built with the simplified tokenization, so DuckDB can
    verify every (qid, doc, n_matches) with list ops over split tokens.
    The full-chain variant (graph positions, stopword holes) is verified
    against a brute-force oracle in tests/test_positional.py."""
    import re

    from .operators.positional import phrase_match, positional_postings

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text: str) -> list[str]:
        return [t for t in pat.split((text or "").lower()) if t]

    docs = _docs(spark, sf_dir, spread=False)
    # the three phrase evaluations share ONE positional build:
    # localCheckpoint materializes it eagerly and is GC-released when the
    # returned DataFrame is dropped (the q_lsh_pairs pattern) — no driver
    # collect (a common phrase matches unboundedly many docs at scale)
    # and no cache leaked across the driver's repeated invocations.
    # Range-partitioned to the session parallelism (r6: the literal 8
    # left 3/4 of a 32-core box idle during the Python builder stage;
    # results are partitioning-independent — tested)
    par = spark.sparkContext.defaultParallelism
    pos = positional_postings(docs.repartitionByRange(par, "doc_id"),
                              "doc_id", "text",
                              terms_fn=simple_terms).localCheckpoint(eager=True)
    out = None
    for qid, phrase in PHRASE_QUERIES.items():
        m = (phrase_match(pos, phrase, terms_fn=simple_terms)
             .select(F.lit(qid).alias("qid"), "doc_id",
                     F.col("n_matches").cast("long").alias("n_matches")))
        out = m if out is None else out.unionAll(m)
    return out


def q_phrase_sloppy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy-phrase matching with Lucene SloppyPhraseScorer accounting
    (PhraseQuery(slop) — the classic parser's ``"a b"~n``) through the
    REAL positional index: order-sensitive adjusted-position spread
    max(p_i - qpos_i) - min(p_i - qpos_i) <= slop
    (operators/positional.py::_lucene_sloppy_bucket, the offset-stream
    sweep).  n_matches counts globally minimal qualifying windows; the
    DuckDB oracle reproduces that with occurrence-tuple enumeration
    plus a containment anti-join.  Simplified tokenization (the
    q_phrase_match pattern) so the oracle sees identical positions."""
    import re

    from .operators.positional import phrase_match, positional_postings

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text: str) -> list[str]:
        return [t for t in pat.split((text or "").lower()) if t]

    docs = _docs(spark, sf_dir, spread=False)
    par = spark.sparkContext.defaultParallelism
    pos = positional_postings(docs.repartitionByRange(par, "doc_id"),
                              "doc_id", "text",
                              terms_fn=simple_terms).localCheckpoint(eager=True)
    out = None
    for qid, (phrase, slop) in SLOPPY_QUERIES.items():
        m = (phrase_match(pos, phrase, terms_fn=simple_terms,
                          slop=slop, slop_mode="lucene")
             .select(F.lit(qid).alias("qid"), "doc_id",
                     F.col("n_matches").cast("long").alias("n_matches")))
        out = m if out is None else out.unionAll(m)
    return out


def q_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highlighting (the Lucene highlighter package's role): anchor =
    earliest position of any query term from the REAL positional index
    (operators/positional.py::first_match, token-index positions under
    the simplified tokenization), snippet = ±HIGHLIGHT_WINDOW tokens
    sliced relationally from the token array (this engine stores
    positions, not char offsets — snippet assembly is a broadcast-side
    join + F.slice, never a text re-scan per match).

    -> (qid, doc_id, first_pos, snippet); first_pos is 0-based."""
    import re

    from .operators.positional import first_match, positional_postings

    pat = re.compile("[^a-z0-9]+")

    def simple_terms(text: str) -> list[str]:
        return [t for t in pat.split((text or "").lower()) if t]

    docs = _docs(spark, sf_dir, spread=False)
    par = spark.sparkContext.defaultParallelism
    pos = positional_postings(docs.repartitionByRange(par, "doc_id"),
                              "doc_id", "text",
                              terms_fn=simple_terms).localCheckpoint(eager=True)
    toks = docs.select("doc_id", _tokens_col().alias("toks"))
    # r6: union the per-query anchor frames FIRST, then join the token
    # arrays ONCE — the old per-branch join re-ran the corpus tokenize
    # subtree once per highlight query (join distributes over union, so
    # the row set is identical)
    out = None
    for qid, terms in HIGHLIGHT_QUERIES.items():
        fm = (first_match(pos, terms)
              .select(F.lit(qid).alias("qid"), "doc_id", "first_pos"))
        out = fm if out is None else out.unionAll(fm)
    start = F.greatest(F.col("first_pos") + 1 - HIGHLIGHT_WINDOW,
                       F.lit(1))
    end = F.least(F.col("first_pos") + 1 + HIGHLIGHT_WINDOW,
                  F.size("toks"))
    return (out.join(toks, "doc_id")
            .select("qid", "doc_id",
                    F.col("first_pos").cast("long").alias("first_pos"),
                    F.array_join(
                        F.slice("toks", start, end - start + 1),
                        " ").alias("snippet")))


def q_snippet_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAR-OFFSET highlighting through the REAL offsets-enabled
    positional index (round 4: positional_postings(store_offsets=True)
    -> first_match_span): for each highlight query, the earliest
    matching token per doc with its (start, end) char span and the
    EXACT source substring.  Offsets here come from the stored index
    blobs, not from re-scanning the text; DuckDB reconstructs them from
    cumulative token lengths (the corpus is single-space-joined, so
    start(i) = Σ(len+1) over preceding tokens)."""
    import re

    from .operators.positional import first_match_span, positional_postings

    pat = re.compile("[a-z0-9]+")

    def spans(text: str):
        return [(m.group(0), m.start(), m.end())
                for m in pat.finditer((text or "").lower())]

    docs = _docs(spark, sf_dir, spread=False)
    par = spark.sparkContext.defaultParallelism
    pos = positional_postings(docs.repartitionByRange(par, "doc_id"),
                              "doc_id", "text", spans_fn=spans,
                              store_offsets=True) \
        .localCheckpoint(eager=True)
    txt = docs.select("doc_id", "text")
    # r6: union the per-query span frames, join the text ONCE (the
    # q_highlight union-then-join shape — one corpus scan, not three)
    out = None
    for qid, terms in HIGHLIGHT_QUERIES.items():
        fm = (first_match_span(pos, terms)
              .select(F.lit(qid).alias("qid"), "doc_id", "first_pos",
                      "start", "end"))
        out = fm if out is None else out.unionAll(fm)
    return (out.join(txt, "doc_id")
            .select("qid", "doc_id",
                    F.col("first_pos").cast("long").alias("first_pos"),
                    F.col("start").cast("long").alias("off_start"),
                    F.col("end").cast("long").alias("off_end"),
                    F.substring(
                        F.col("text"),
                        (F.col("start") + 1).cast("int"),
                        (F.col("end") - F.col("start")).cast("int"))
                    .alias("snippet")))


def q_content_sha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row content sha256 (the input_hint invariant surfaced as a
    value-matched contract query; the build-time audit is
    operators/fulltext.py::content_invariant_violations)."""
    return (_docs(spark, sf_dir, spread=False)
            .select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))
            .orderBy("doc_id").limit(200))


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination through the REAL operator
    (operators/dedup.py::ngram_decontaminate): docs sharing any word
    13-gram with the benchmark slice (doc_id < 100) -> (doc_id, n_hits).
    The benchmark's distinct n-grams broadcast; corpus n-grams are
    produced map-side from each doc's own token array."""
    from .operators.dedup import ngram_decontaminate
    docs = _docs(spark, sf_dir)
    return ngram_decontaminate(
        docs.filter(F.col("doc_id") >= DECONTAM_BENCH),
        docs.filter(F.col("doc_id") < DECONTAM_BENCH),
        n=DECONTAM_N)


def q_wand_fullchain_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-chain BM25 scorer, VALUE-checked (r4 VERDICT item 9).

    The full chain (WDGF/stop/Porter2 — operators/fulltext.py::
    term_doc_freqs) tokenizes Spark-side; the (doc_id, term, tf, dl)
    table is materialized to ``fullchain_dump_path(sf_dir)`` so the
    DuckDB oracle can recompute BM25 top-10 per query IN PURE SQL from
    the same tokens (oracles.py::wand_fullchain_sql) — idf form,
    tf saturation, length norm, rank tie-break all independently
    verified.  The engine side scores through block-max WAND over
    postings built from the same table (the real serving path),
    rounded to 4dp at the contract boundary and re-ranked on the
    rounded score (the q_bm25_topk convention) so both engines rank
    identically; WAND fetches k=40 raw so the rounded re-rank has
    margin at the k=10 boundary."""
    from .operators import fulltext as ft
    from .operators.postings import index_corpus
    from .operators.wand import wand_topk_many

    docs = _docs(spark, sf_dir)
    # eager localCheckpoint: the dump, stats, and postings all reuse
    # one evaluation of the chain, and the returned DataFrame stays
    # LAZY (the suite-wide audit bans driver collects in contract
    # queries); the checkpoint is GC-released by the ContextCleaner —
    # the compact() precedent
    tdf = ft.term_doc_freqs(docs, "doc_id", "text") \
        .localCheckpoint(eager=True)
    # r6: the dump writes with the chain's own partitioning and order
    # (the DuckDB oracle reads a /*.parquet glob and aggregates, so
    # file count and row order are free) — the old
    # repartition(1).sortWithinPartitions funnelled the whole token
    # table through one writer task plus a sort neither engine needs
    tdf.write.mode("overwrite").parquet(fullchain_dump_path(sf_dir))
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf)
    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"), "doc_id", "text")
    res = wand_topk_many(postings, tstats, n, avgdl,
                         FULLCHAIN_WAND_QUERIES, k=40)
    w = Window.partitionBy("qid").orderBy(F.desc("score"),
                                          F.asc("doc_id"))
    return (res.withColumn("score", F.round(F.col("score"), 4))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 10)
            .select("qid", "rank", "doc_id", "score"))


QUERIES = {
    "tf": q_tf,
    "content_sha": q_content_sha,
    "doc_stats": q_doc_stats,
    "term_stats": q_term_stats,
    "term_dict": q_term_dict,
    "bm25_topk": q_bm25_topk,
    "text_quality": q_text_quality,
    "fingerprint": q_fingerprint,
    "dedup_exact": q_dedup_exact,
    "minhash": q_minhash,
    "jaccard_adjacent": q_jaccard_adjacent,
    "ann_cosine": q_ann_cosine,
    "tpch_q1": q_tpch_q1,
    "top_revenue": q_top_revenue,
    "sessionize": q_sessionize,
    "events_json": q_events_json,
    "prefix_terms": q_prefix_terms,
    "fuzzy_terms": q_fuzzy_terms,
    "boolean": q_boolean,
    "boolean_grouped": q_boolean_grouped,
    "range_terms": q_range_terms,
    "mlt": q_mlt,
    "facet_source": q_facet_source,
    "highlight": q_highlight,
    "snippet_offsets": q_snippet_offsets,
    "suggest": q_suggest,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "simhash": q_simhash,
    "lsh_pairs": q_lsh_pairs,
    "phrase_match": q_phrase_match,
    "phrase_sloppy": q_phrase_sloppy,
    "decontaminate": q_decontaminate,
    "wand_fullchain_sql": q_wand_fullchain_sql,
}
