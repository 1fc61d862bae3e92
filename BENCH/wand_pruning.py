#!/usr/bin/env python
"""Pruning-effectiveness instrumentation for block-max WAND.

Builds the index over the deterministic synthetic code corpus, pulls the
bench queries' matched posting blocks to the driver, and runs the SAME
_wand_bucket kernel the executors run — with counters wrapped around
block positioning (visits) and VByte decoding — to report, per query:

  blocks_matched  — posting block rows the query's terms own
  blocks_visited  — blocks a cursor positioned on (what the pre-lazy
                    implementation DECODED: every visit paid 3 blob
                    decodes)
  blocks_decoded  — blocks actually decoded now (a doc inside was
                    evaluated); the visited-decoded gap is pure saving
                    from the metadata level of the two-level skip

Run: python BENCH/wand_pruning.py [N_DOCS] [CPUS]; one JSON line out.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# query classes are built from the INDEX's own df distribution:
# WAND's win case is skewed idf (a rare term gates which docs can beat
# theta, so common-term cursors block-skip); the flat all-common case is
# exactly what the serving plan routes to the exhaustive tree kernel.
# Few, LARGE doc-range buckets: block-skipping is a per-bucket effect —
# a ubiquitous term's block is skipped iff no pivot doc lands in its
# 128-doc range, so the win scales with blocks-per-bucket (span/128)
# relative to pivots-per-bucket (~selective df + k).  Production buckets
# hold 10^5-10^6 docs; 2 buckets of 25k docs approximate that ratio.
N_PARTS_BUILD = 2


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32

    import php_lucene_analyzer_spark.operators.wand as W
    from php_lucene_analyzer_spark.analysis import analyze
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.operators import fulltext as ft
    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, index_corpus, term_stats_from_postings)
    from php_lucene_analyzer_spark.session import get_spark

    spark = get_spark(app="wand_pruning", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    vocab_size = int(os.environ.get("PRUNE_VOCAB", "100000"))
    docs = ft.with_doc_ids(
        synthetic_corpus(spark, n_docs, vocab_size=vocab_size).cache(),
        ["repo", "path"], partitions=N_PARTS_BUILD)
    postings = index_corpus(docs, "doc_id", "content").cache()
    tstats = term_stats_from_postings(postings).cache()
    avgdl = corpus_stats_from_postings(postings, n_docs)

    stats = sorted(((r["term"], int(r["df"])) for r in tstats.collect()),
                   key=lambda x: x[1])
    dfs_only = [df for _, df in stats]

    def pick_df(target):
        """term whose df is nearest target — pruning only engages once a
        bucket's heap holds k matches, so the 'selective' term must still
        have >> k matches per bucket."""
        import bisect as _b
        i = min(_b.bisect_left(dfs_only, target), len(stats) - 1)
        return stats[i][0]

    per_bucket = n_docs // N_PARTS_BUILD
    blocks_per_bucket = per_bucket // 128
    # selective: fills the k=10 heap per bucket but pivots << blocks
    sel = [pick_df(N_PARTS_BUILD * 40), pick_df(N_PARTS_BUILD * 60)]
    mid = [pick_df(blocks_per_bucket * N_PARTS_BUILD * 4),
           pick_df(per_bucket)]
    common = [t for t, df in (stats[-1], stats[-2], stats[-3])]
    QUERY_SETS = {
        "selective+common": sorted({sel[0], common[0], common[1]}),
        "selective+mid": sorted(set(sel + mid)),
        "all common (flat)": sorted(common),
    }

    counters = {"decoded_blobs": 0, "visited": 0}
    orig_decode = W.vbyte_decode
    orig_lazy = W._TermCursor._set_block_lazy

    def counting_decode(buf):
        counters["decoded_blobs"] += 1
        return orig_decode(buf)

    def counting_lazy(self, bi):
        counters["visited"] += 1
        return orig_lazy(self, bi)

    W.vbyte_decode = counting_decode
    W._TermCursor._set_block_lazy = counting_lazy

    import pyspark.sql.functions as F

    per_q = {}
    for q, terms in QUERY_SETS.items():
        metas = [(r["term"], ft.idf(n_docs, r["df"])) for r in
                 tstats.filter(F.col("term").isin(terms))
                 .select("term", "df").orderBy("term").collect()]
        pdf = postings.filter(F.col("term").isin(terms)).toPandas()
        counters["decoded_blobs"] = counters["visited"] = 0
        # _wand_bucket always runs the cursor, so the numbers
        # characterize pruning (the serving plan would route dense
        # buckets to the exhaustive tree kernel, which by design decodes
        # all)
        for _, bucket in pdf.groupby("rbucket"):
            W._wand_bucket(bucket, metas, 10, avgdl, W.K1, W.B)
        per_q[q] = {
            "blocks_matched": int(len(pdf)),
            "blocks_visited": int(counters["visited"]),
            "blocks_decoded": round(counters["decoded_blobs"] / 3, 1),
        }

    tot = {k: sum(v[k] for v in per_q.values())
           for k in ("blocks_matched", "blocks_visited", "blocks_decoded")}
    print(json.dumps({
        "metric": "wand_block_pruning", "n_docs": n_docs,
        "queries": per_q, "total": tot,
        "decode_fraction_of_visited":
            round(tot["blocks_decoded"] / max(tot["blocks_visited"], 1), 3),
        "decode_fraction_of_matched":
            round(tot["blocks_decoded"] / max(tot["blocks_matched"], 1), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
