#!/usr/bin/env python
"""spark-submit entrypoint: resumable fulltext index build (north rule:
"run via spark-submit --py-files on a multi-executor cluster, resumable
from checkpoint with per-partition lineage + metrics").

Usage (cluster: set --master/--num-executors via spark-submit flags):

    zip -r plas.zip php_lucene_analyzer_spark
    spark-submit --py-files plas.zip scripts/build_index.py \
        --input  /path/to/corpus.parquet \
        --workdir /path/to/index \
        --order-cols repo,path --text-col content \
        --chunk-docs 1048576

Reads the corpus parquet (input_hint shape: repo,path,commit,lang,content
— or any table with a unique key + text column), assigns deterministic
dense doc ids, builds delta+VByte posting blocks (and, with
--positional, the positional blocks in the same pass and rbuckets)
chunk-by-chunk with idempotent commits + lineage rows
(operators/lineage.py), then writes the sorted term dictionary
(``term_dict/``, for offline readers: the query CLI derives term stats
from the postings) and the stats.json (n_docs, avgdl) the query CLI
reads.  Re-running after a crash resumes from the lineage table — only
missing chunks rebuild.

Prints ONE JSON summary line on success.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="corpus parquet path")
    ap.add_argument("--workdir", required=True, help="index output dir")
    ap.add_argument("--order-cols", default="repo,path",
                    help="comma-separated unique key for doc-id assignment")
    ap.add_argument("--text-col", default="content")
    ap.add_argument("--chunk-docs", type=int, default=1 << 20)
    ap.add_argument("--audit", action="store_true",
                    help="verify the per-row content-sha256 invariant "
                         "between the source and the doc-id checkpoint "
                         "(full extra scan of both)")
    ap.add_argument("--positional", action="store_true",
                    help="also build the packed positional index "
                         "(phrase/slop/highlight serving via "
                         "query_index.py --syntax classic), chunk by "
                         "chunk in the same pass and rbuckets as the "
                         "postings; a re-run adds positions to chunks "
                         "committed without them")
    ap.add_argument("--offsets", action="store_true",
                    help="with --positional: store per-occurrence char "
                         "(start, length) for source-text snippets")
    args = ap.parse_args()
    if args.offsets and not args.positional:
        ap.error("--offsets requires --positional (offsets live in the "
                 "positional blobs)")

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("plas-build-index")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from php_lucene_analyzer_spark.operators.lineage import (
        ResumableIndexBuild)
    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, term_dict_from_postings)

    t0 = time.time()
    docs = spark.read.parquet(args.input)
    build = ResumableIndexBuild(spark, args.workdir,
                                chunk_docs=args.chunk_docs,
                                text_col=args.text_col,
                                positional=args.positional,
                                store_offsets=args.offsets)
    postings = build.run(docs, args.order_cols.split(","))

    if args.audit:
        from php_lucene_analyzer_spark.operators.fulltext import (
            content_invariant_violations)
        bad = content_invariant_violations(
            docs, spark.read.parquet(build.ids_path),
            args.order_cols.split(","), args.text_col).count()
        if bad:
            raise SystemExit(
                f"content sha256 invariant violated for {bad} keys")

    n_docs = int(spark.read.parquet(build.ids_path).count())
    avgdl = corpus_stats_from_postings(postings, n_docs)
    term_dict_path = os.path.join(args.workdir, "term_dict")
    # sorted by term on disk -> parquet row-group min/max prune term and
    # prefix lookups (the sorted-FST role, SURVEY §1.4)
    (term_dict_from_postings(postings)
     .repartitionByRange("term").sortWithinPartitions("term")
     .write.mode("overwrite").parquet(term_dict_path))

    from php_lucene_analyzer_spark.functions.header import (
        INDEX_WORKDIR_CODEC, INDEX_WORKDIR_VERSION, header_fields)

    stats = {**header_fields(INDEX_WORKDIR_CODEC, INDEX_WORKDIR_VERSION),
             "n_docs": n_docs, "avgdl": avgdl,
             "text_col": args.text_col,
             "order_cols": args.order_cols.split(","),
             "chunks": sorted(build.completed_chunks()),
             "has_positional": bool(args.positional),
             "wall_sec": round(time.time() - t0, 2)}
    with open(os.path.join(args.workdir, "stats.json"), "w") as f:
        json.dump(stats, f)
    n_terms = spark.read.parquet(term_dict_path).count()
    print(json.dumps({"metric": "index_build", **stats,
                      "n_terms": int(n_terms)}))
    spark.stop()


if __name__ == "__main__":
    main()
