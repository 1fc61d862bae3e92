#!/usr/bin/env python
"""spark-submit entrypoint: BM25 top-k serving over an index built by
scripts/build_index.py.

    spark-submit --py-files plas.zip scripts/query_index.py \
        --workdir /path/to/index [-k 10] "query one" "query two" ...

All queries evaluate as one query set through engine.FulltextIndex:
``--syntax terms`` (default) ranks each analyzed bag of words with
``search_many``, ``--syntax classic`` runs ``query_many``, which parses
full classic-Lucene strings (AND/OR/NOT, parens, field:term, boosts,
ranges, wildcards, fuzzy, and phrases — a workdir built with
``build_index.py --positional``, or saved by ``FulltextIndex.save``
with a positional index, serves ``"exact phrase"`` / ``"a b"~n``
clauses batched like everything else).  Either way the set takes one
plan (operators/boolean.py::_tree_set): below DRIVER_POSTINGS_CAP
postings one Spark job collects its block rows and the driver scores
them, else one grouped kernel pass (about three Spark jobs: the bucket
exchange, the kernel, the per-qid window); plus the term-dictionary
read and any regex expansion.  Prints one JSON line per query:
{"query": ..., "hits": [[doc_id, score], ...]}.
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("-k", type=int, default=10)
    ap.add_argument("--fetch", action="store_true",
                    help="join hits against the doc-id checkpoint and "
                         "return doc metadata (repo/path/... columns) "
                         "instead of bare ids — one broadcast join, the "
                         "hit side is tiny")
    ap.add_argument("--syntax", choices=["terms", "classic"],
                    default="terms",
                    help="'terms': analyzed bag-of-words -> WAND "
                         "(default); 'classic': full Lucene query "
                         "syntax -> parser + tree kernel "
                         "(engine.query_many)")
    ap.add_argument("--slop-mode", choices=["lucene", "span"],
                    default="lucene",
                    help="'--syntax classic' only: semantics of "
                         "'\"a b\"~n' — 'lucene' (default): "
                         "SloppyPhraseScorer adjusted-position "
                         "accounting (order-sensitive); 'span': "
                         "SpanNearQuery(inOrder=false) windows")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("plas-query-index")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from php_lucene_analyzer_spark.engine import FulltextIndex
    from php_lucene_analyzer_spark.functions.header import (
        INDEX_WORKDIR_CODEC, INDEX_WORKDIR_VERSION, POSITIONAL_CODEC,
        POSITIONAL_VERSION, check_dir_header, check_fields)
    from php_lucene_analyzer_spark.operators.postings import (
        term_stats_from_postings)

    # format guard BEFORE any decode: stale index layouts fail with a
    # versioned message (functions/header.py — CodecUtil's role)
    check_dir_header(args.workdir, INDEX_WORKDIR_CODEC,
                     INDEX_WORKDIR_VERSION, INDEX_WORKDIR_VERSION)
    with open(os.path.join(args.workdir, "stats.json")) as f:
        stats = json.load(f)
    check_fields(stats, INDEX_WORKDIR_CODEC, INDEX_WORKDIR_VERSION,
                 INDEX_WORKDIR_VERSION, "stats.json")
    postings = spark.read.option(
        "basePath", os.path.join(args.workdir, "postings")).parquet(
        os.path.join(args.workdir, "postings", "chunk=*"))
    tstats = term_stats_from_postings(postings)

    pos = None
    pdir = os.path.join(args.workdir, "positional")
    if args.syntax == "classic" and (stats.get("has_positional")
                                     or os.path.isdir(pdir)):
        # header check BEFORE any decode (engine.load's rule)
        check_dir_header(pdir, POSITIONAL_CODEC, POSITIONAL_VERSION,
                         POSITIONAL_VERSION)
        pos = spark.read.parquet(pdir)
    idx = FulltextIndex(spark, postings, tstats, int(stats["n_docs"]),
                        float(stats["avgdl"]), positional=pos,
                        fields=stats.get("fields"),
                        field_avgdl=stats.get("field_avgdl"))
    qmap = {str(i): q for i, q in enumerate(args.queries)}
    if args.syntax == "classic":
        hits_df = idx.query_many(qmap, k=args.k, slop_mode=args.slop_mode)
    else:
        hits_df = idx.search_many(qmap, k=args.k)
    meta_cols: list[str] = []
    if args.fetch:
        import pyspark.sql.functions as F

        ids = spark.read.parquet(os.path.join(args.workdir, "docs_with_ids"))
        skip = {"doc_id", stats.get("text_col", "content")}
        meta_cols = [c for c in ids.columns
                     if c not in skip and not c.startswith("_")
                     and dict(ids.dtypes)[c] == "string"][:4]
        # INNER join: every hit doc_id exists in the checkpoint, and a
        # left-outer could not build on its preserved (broadcast) side —
        # Spark would drop the hint and shuffle the whole ids table
        hits_df = (F.broadcast(hits_df)
                   .join(ids.select("doc_id", *meta_cols), "doc_id"))
    rows = hits_df.collect()
    by_q: dict[str, list] = {qid: [] for qid in qmap}
    for r in rows:
        meta = {c: r[c] for c in meta_cols}
        by_q[r["qid"]].append((r["doc_id"], r["score"], meta))
    for i in sorted(by_q, key=int):
        hits = sorted(by_q[i], key=lambda t: (-t[1], t[0]))
        out = [[d, s_, m] if meta_cols else [d, s_] for d, s_, m in hits]
        print(json.dumps({"query": qmap[i], "hits": out}))
    spark.stop()


if __name__ == "__main__":
    main()
