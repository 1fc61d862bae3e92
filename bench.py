#!/usr/bin/env python
"""Benchmark harness (driver contract: prints ONE JSON line).

Measures, at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]:

* ``index_build`` — full Lucene-parity chain -> term/doc freqs -> term dict
  -> VByte posting blocks, on the documents table (docs/sec reported);
* ``synth_build`` — same pipeline over the deterministic input_hint-shaped
  synthetic corpus (BENCH_SYNTH_DOCS docs, default 20000) — the
  north-rule throughput number at a meaningful doc count;
* every oracle-suite query (one timed run each);
* ``bm25_p95`` — block-max WAND top-10 latency, p50/p95 over the fixed
  query set run BENCH_QUERY_REPS times (default 5).

Output: {"metric": "bench_suite_total", "value": <total sec>, "unit":
"sec", "queries": {...per-stage sec...}, "sf": ..., "docs_per_sec": ...,
"synth_docs_per_sec": ..., "bm25_p50_sec": ..., "bm25_p95_sec": ...}
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    synth_docs = int(os.environ.get("BENCH_SYNTH_DOCS", "20000"))
    reps = int(os.environ.get("BENCH_QUERY_REPS", "5"))

    from php_lucene_analyzer_spark.operators import fulltext as ft
    from php_lucene_analyzer_spark.operators.postings import (
        corpus_stats_from_postings, index_corpus,
        term_stats_from_postings)
    from php_lucene_analyzer_spark.operators.wand import (wand_topk,
                                                          wand_topk_many)
    from php_lucene_analyzer_spark.corpus import synthetic_corpus
    from php_lucene_analyzer_spark.queries import QUERIES
    from php_lucene_analyzer_spark.session import get_spark

    spark = get_spark(app="bench", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    t_all = time.time()

    # --- index build on the documents table (full chain -> postings) ---
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").cache()
    n_docs = docs.count()
    t0 = time.time()
    tdf = ft.term_doc_freqs(docs, "doc_id", "text").cache()
    n, avgdl = ft.corpus_stats(tdf)
    tstats = ft.term_stats(tdf).cache()
    postings = index_corpus(docs.repartitionByRange(
        spark.sparkContext.defaultParallelism, "doc_id"),
        "doc_id", "text").cache()
    postings.count()
    tstats.count()
    dt = time.time() - t0
    timings["index_build"] = round(dt, 3)
    extra["docs_per_sec"] = round(n_docs / dt, 1)

    # --- BM25 WAND latency over the fixed query set ---
    wand_queries = ["fast merge join order", "the spark stream batch",
                    "window sort vector", "slow customer value",
                    "dup big row column"]
    lat = []
    for _ in range(reps):
        for q in wand_queries:
            tq = time.time()
            wand_topk(postings, tstats, n, avgdl, q, k=10).collect()
            lat.append(time.time() - tq)
    lat.sort()
    import math
    extra["bm25_p50_sec"] = round(lat[len(lat) // 2], 4)
    # nearest-rank p95 (int(N*0.95)-1 lands at ~p90 for small N)
    extra["bm25_p95_sec"] = round(
        lat[min(len(lat) - 1, math.ceil(len(lat) * 0.95) - 1)], 4)
    timings["bm25_wand_suite"] = round(sum(lat) / reps, 3)
    # batched serving shape: the whole query set in one Spark job
    qset = {f"q{i}": q for i, q in enumerate(wand_queries)}
    wand_topk_many(postings, tstats, n, avgdl, qset, k=10).collect()  # warm
    tq = time.time()
    wand_topk_many(postings, tstats, n, avgdl, qset, k=10).collect()
    timings["bm25_wand_batched"] = round(time.time() - tq, 3)
    # serving throughput: 100 deterministic 2-term queries, ONE Spark job
    vocab = [r["term"] for r in
             tstats.orderBy(tstats.df.desc(), "term").limit(40).collect()]
    big = {f"b{i}": f"{vocab[i % len(vocab)]} {vocab[(i * 7 + 3) % len(vocab)]}"
           for i in range(100)}
    tq = time.time()
    n_hits = wand_topk_many(postings, tstats, n, avgdl, big, k=10).count()
    dt_big = time.time() - tq
    timings["bm25_batch100"] = round(dt_big, 3)
    extra["serving_qps_batch100"] = round(100 / dt_big, 1) if dt_big else 0.0
    assert n_hits > 0

    # --- fuzzy serving latency (ALL terms of a query expand in one
    # expand_specs call, on the driver from the index's term dictionary
    # — engine.search_fuzzy) ---
    from php_lucene_analyzer_spark.engine import FulltextIndex
    fidx = FulltextIndex(spark, postings, tstats, n, avgdl)
    fuzzy_queries = ["stram", "mrege ordre", "custoner valeu"]
    flat = []
    for _ in range(reps):
        for q in fuzzy_queries:
            tq = time.time()
            fidx.search_fuzzy(q, k=10, max_edits=2).collect()
            flat.append(time.time() - tq)
    flat.sort()
    extra["fuzzy_p50_sec"] = round(flat[len(flat) // 2], 4)
    extra["fuzzy_p95_sec"] = round(
        flat[min(len(flat) - 1, math.ceil(len(flat) * 0.95) - 1)], 4)
    timings["fuzzy_suite"] = round(sum(flat) / reps, 3)

    # --- grouped/boosted query-string serving (round 4: parser ->
    # tree kernel; expansions batched into one job per call) ---
    grouped = {
        "g1": "(fast OR merge) AND stream",
        "g2": "window order sort -slow",
        "g3": "+customer (value OR dup) mer*",
        "g4": "fast^2 [merge TO order]",
    }
    glat = []
    for _ in range(reps):
        for q in grouped.values():
            tq = time.time()
            fidx.query(q, k=10).collect()
            glat.append(time.time() - tq)
    glat.sort()
    extra["grouped_p50_sec"] = round(glat[len(glat) // 2], 4)
    extra["grouped_p95_sec"] = round(
        glat[min(len(glat) - 1, math.ceil(len(glat) * 0.95) - 1)], 4)
    timings["grouped_suite"] = round(sum(glat) / reps, 3)
    # the batched form: whole set, one expansion + one kernel job
    fidx.query_many(grouped, k=10).collect()   # warm
    tq = time.time()
    fidx.query_many(grouped, k=10).collect()
    timings["grouped_batched"] = round(time.time() - tq, 3)

    # --- phrase serving over the positional index (r5: whole-bucket
    # vectorized kernels).  The planted entry is a COMMON-term phrase —
    # the shape whose candidate set made the r4 per-candidate-doc
    # Python loop the hottest remaining loop (r4 VERDICT item 1) ---
    from php_lucene_analyzer_spark.operators.positional import (
        positional_postings)
    pos = positional_postings(
        docs.select("doc_id", "text").repartitionByRange(cpus, "doc_id"),
        "doc_id", "text").cache()
    pos.count()
    pidx = FulltextIndex(spark, postings, tstats, n, avgdl,
                         positional=pos)
    top2 = [r["term"] for r in
            tstats.orderBy(tstats.df.desc(), "term").limit(2).collect()]
    common_phrase = " ".join(top2)
    pidx.phrase(common_phrase).count()              # warm
    tq = time.time()
    n_common = pidx.phrase(common_phrase).count()
    timings["phrase_common"] = round(time.time() - tq, 3)
    extra["phrase_common_docs"] = n_common
    # slop form exercises the vectorized minimal-window sweep
    # (slop_mode pinned to "span" so the stage stays comparable with
    # r4/r5 records; the r5 lucene accounting is timed separately)
    pidx.phrase(common_phrase, slop=8, slop_mode="span").count()  # warm
    tq = time.time()
    pidx.phrase(common_phrase, slop=8, slop_mode="span").count()
    timings["phrase_common_slop"] = round(time.time() - tq, 3)
    # Lucene SloppyPhraseScorer accounting (r5: the classic parser's
    # "a b"~n default) — one adjusted stream per phrase position
    pidx.phrase(common_phrase, slop=8).count()      # warm
    tq = time.time()
    pidx.phrase(common_phrase, slop=8).count()
    timings["phrase_common_lucene"] = round(time.time() - tq, 3)
    # phrase-bearing batched serving (query_many full grammar — one
    # expansion + one tree-kernel pass, phrase leaves included)
    grouped_ph = dict(grouped)
    grouped_ph["g5"] = f'+"{common_phrase}" {top2[0]}'
    grouped_ph["g6"] = f'{top2[1]} -"{common_phrase}"'
    fidx_pos = pidx
    fidx_pos.query_many(grouped_ph, k=10).collect()  # warm
    tq = time.time()
    fidx_pos.query_many(grouped_ph, k=10).collect()
    timings["grouped_batched_phrases"] = round(time.time() - tq, 3)
    pos.unpersist()

    # --- dedup signature throughput: vectorized (JVM shingle hash +
    # reduceat folds) vs the legacy per-doc/per-shingle Python path ---
    from php_lucene_analyzer_spark.operators.dedup import (
        _minhash_batch, minhash_signatures)

    def legacy_sigs(df):
        import pandas as pd

        def gen(batches):
            for pdf in batches:
                sig = _minhash_batch(pdf["text"], 64, 3)
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "sig": [row.astype("int64").tolist() for row in sig]})
        return df.select("doc_id", "text").mapInPandas(
            gen, schema="doc_id long, sig array<long>")

    minhash_signatures(docs).write.format("noop").mode("overwrite").save()
    tq = time.time()
    minhash_signatures(docs).write.format("noop").mode("overwrite").save()
    dt_new = time.time() - tq
    tq = time.time()
    legacy_sigs(docs).write.format("noop").mode("overwrite").save()
    dt_old = time.time() - tq
    timings["minhash_signatures"] = round(dt_new, 3)
    extra["sig_docs_per_sec"] = round(n_docs / dt_new, 1) if dt_new else 0.0
    extra["sig_speedup_vs_scalar"] = round(dt_old / dt_new, 2) \
        if dt_new else 0.0

    # --- oracle-suite queries: 1 untimed warmup (JIT/codegen) + 1 timed ---
    for name, fn in QUERIES.items():
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        tq = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - tq, 3)

    # free the query-phase caches so the build phase isn't GC-pressured
    tdf.unpersist()
    tstats.unpersist()
    postings.unpersist()
    docs.unpersist()

    # --- synthetic input_hint corpus build (north-rule throughput) ---
    # The corpus is materialized to parquet once (cached across runs) so
    # the timed section measures the INDEX BUILD from a table — the
    # input_hint shape — not the generator.
    cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             ".bench_cache", f"corpus_{synth_docs}")
    if not os.path.exists(os.path.join(cache_dir, "_SUCCESS")):
        synthetic_corpus(spark, synth_docs).write.mode("overwrite") \
            .parquet(cache_dir)
    # fused single-pass build: doc-id range shuffle is the ONLY shuffle;
    # analyzer + block builder run in one mapInPandas; term stats derive
    # from block metadata
    t0 = time.time()
    corpus = spark.read.parquet(cache_dir)
    sdocs = ft.with_doc_ids(corpus.select("repo", "path", "content"),
                            ["repo", "path"])
    sp = index_corpus(sdocs, "doc_id", "content").cache()
    # dense doc ids -> N = max(last_doc)+1, off the cached block metadata
    sn = int(sp.agg({"last_doc": "max"}).collect()[0][0]) + 1
    savgdl = corpus_stats_from_postings(sp, sn)
    sstats = term_stats_from_postings(sp)
    sstats.write.format("noop").mode("overwrite").save()
    sp.unpersist()
    dt = time.time() - t0
    timings["synth_build"] = round(dt, 3)
    extra["synth_docs_per_sec"] = round(synth_docs / dt, 1)

    total = round(time.time() - t_all, 3)
    out = {
        "metric": "bench_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir.rstrip("/").split("sf")[-1],
        "cpus": cpus,
        **extra,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
