"""The traced run's per-layer numbers.

``sweep`` runs after a traced run's timed window: it times calls into
each module's public functions on the workload's own index and queries,
each in a span of its own, and runs the serving operations the workload
itself does not, so every traced run reports every metric.  ``finish``
turns the spans, job counts and Spark event log into the metrics.
"""

from __future__ import annotations

import os
import statistics
import time

OPS = ("build", "search", "query", "search_many", "query_many")

UNITS = {
    "spark.session_start_s": "s",
    "spark.job_floor_ms": "ms",
    **{f"spark.jobs_per_op.{o}": "count" for o in OPS},
    **{f"spark.tasks_per_op.{o}": "count" for o in OPS},
    **{f"spark.slot_busy_ratio.{o}": "ratio" for o in OPS},
    **{f"spark.shuffle_bytes.{o}": "bytes" for o in OPS},
    **{f"engine.driver_share.{o}": "ratio" for o in OPS},
    "analysis.docs_per_s": "1/s",
    "analysis.tokens_per_s": "1/s",
    "scan.s": "s",
    "fulltext.with_doc_ids_s": "s",
    "fulltext.expand_specs_ms": "ms",
    "postings.index_corpus_s": "s",
    "postings.term_stats_s": "s",
    "postings.write_s": "s",
    "postings.read_s": "s",
    "postings.blocks": "count",
    "postings.bytes": "bytes",
    "codec.vbyte_encode_mb_per_s": "MB/s",
    "codec.vbyte_decode_mb_per_s": "MB/s",
    "positional.build_s": "s",
    "positional.bytes": "bytes",
    "positional.phrase_match_many_s": "s",
    "queryparser.parse_us": "us",
    "querycompile.compile_us": "us",
    "wand.topk_terms_ms": "ms",
    "wand.topk_many_s": "s",
    "boolean.tree_topk_many_s": "s",
    "trace.unattributed_share": "ratio",
    "trace.overhead_share": "ratio",
    "host.cpu_control_ms": "ms",
}


def _median_time(fn, reps: int) -> float:
    ts = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t)
    return statistics.median(ts)


def _terms_fn(text: str) -> list[str]:
    from php_lucene_analyzer_spark.analysis import analyze
    return sorted({t.term for t in analyze(text)})


def _compile(queries: list[str]):
    from php_lucene_analyzer_spark.querycompile import compile_query
    from php_lucene_analyzer_spark.queryparser import parse_query
    return [compile_query(parse_query(q), _terms_fn, None)
            for q in queries]


def sweep(r) -> None:
    """Per-layer probes on the run's own index ``r.idx`` (saved, then
    loaded) and query generator ``r.qg``."""
    import numpy as np
    import pyarrow.parquet as pq

    from php_lucene_analyzer_spark.analysis.chain import analyze_terms
    from php_lucene_analyzer_spark.functions import codec
    from php_lucene_analyzer_spark.operators.boolean import \
        boolean_tree_topk_many
    from php_lucene_analyzer_spark.operators.fulltext import expand_specs
    from php_lucene_analyzer_spark.operators.positional import \
        phrase_match_many
    from php_lucene_analyzer_spark.operators.postings import (
        read_postings, write_postings)
    from php_lucene_analyzer_spark.operators.wand import (wand_topk_many,
                                                          wand_topk_terms)
    from php_lucene_analyzer_spark.querycompile import compile_query
    from php_lucene_analyzer_spark.queryparser import parse_query
    from probes import dir_bytes
    from run import BATCH, rows_of, same_index

    spark, idx, qg, L, sp = r.spark, r.idx, r.qg, r.layer, r.tr.span
    r.sc_group("sweep")
    index_dir = r.index_dir
    with sp("spark.job_floor"):
        spark.range(1).count()
        L["spark.job_floor_ms"] = 1e3 * _median_time(
            lambda: spark.range(1).count(), 7)

    with sp("analysis.chain"):
        texts = spark.read.parquet(r.corpus_path).select("content") \
            .limit(400).toPandas()["content"].tolist()
        for t in texts:                      # warm the token cache
            analyze_terms(t)
        ntok = sum(len(analyze_terms(t)) for t in texts)
        dt = _median_time(lambda: [analyze_terms(t) for t in texts], 3)
        L["analysis.docs_per_s"] = len(texts) / dt
        L["analysis.tokens_per_s"] = ntok / dt

    with sp("sources.scan"):
        L["scan.s"] = _median_time(
            lambda: spark.read.parquet(r.corpus_path).write.format("noop")
            .mode("overwrite").save(), 3)

    pdir = os.path.join(index_dir, "postings")
    with sp("postings.write"):
        tmp = os.path.join(r.work, "probe-postings")
        L["postings.write_s"] = _median_time(
            lambda: write_postings(r.built.postings, tmp), 1)
    with sp("postings.read"):
        L["postings.read_s"] = _median_time(
            lambda: read_postings(spark, pdir).write.format("noop")
            .mode("overwrite").save(), 3)
        L["postings.blocks"] = read_postings(spark, pdir).count()
        L["postings.bytes"] = dir_bytes(pdir)
        L["positional.bytes"] = dir_bytes(os.path.join(index_dir,
                                                       "positional"))

    with sp("functions.codec"):
        tab = pq.read_table(pdir, columns=["doc_blob", "tf_blob",
                                           "dl_blob"])
        blobs = [b for c in tab.columns for b in c.to_pylist()]
        pick = r.rng.choice(len(blobs), min(6000, len(blobs)),
                            replace=False)
        blobs = [blobs[i] for i in sorted(pick)]
        mb = sum(len(b) for b in blobs) / 1e6
        dec = [codec.vbyte_decode(b) for b in blobs]
        L["codec.vbyte_decode_mb_per_s"] = mb / _median_time(
            lambda: [codec.vbyte_decode(b) for b in blobs], 3)
        flat = np.concatenate(dec)
        starts = np.cumsum([0] + [len(d) for d in dec[:-1]])
        L["codec.vbyte_encode_mb_per_s"] = mb / _median_time(
            lambda: codec.vbyte_encode_slices(flat, starts), 3)

    qstrs = [qg.query() for _ in range(BATCH)]
    with sp("queryparser"):
        asts = [parse_query(q) for q in qstrs]
        L["queryparser.parse_us"] = 1e6 * statistics.median(
            _median_time(lambda q=q: parse_query(q), 3) for q in qstrs)
    with sp("querycompile"):
        L["querycompile.compile_us"] = 1e6 * statistics.median(
            _median_time(lambda a=a: compile_query(a, _terms_fn, None), 3)
            for a in asts)

    with sp("fulltext.expand_specs"):
        plans = [p for p in _compile(qstrs) if p.specs][:4]
        L["fulltext.expand_specs_ms"] = 1e3 * statistics.median(
            _median_time(lambda p=p: expand_specs(idx.tstats, p.specs), 1)
            for p in plans)

    searches = [qg.search() for _ in range(BATCH)]
    with sp("wand.topk_terms"):
        L["wand.topk_terms_ms"] = 1e3 * statistics.median(
            _median_time(lambda q=q: rows_of(wand_topk_terms(
                idx.postings, idx.tstats, idx.n_docs, idx.avgdl,
                _terms_fn(q), 10)), 1) for q in searches[:4])
    with sp("wand.topk_many"):
        batch = {f"q{i}": q for i, q in enumerate(searches)}
        L["wand.topk_many_s"] = _median_time(lambda: rows_of(wand_topk_many(
            idx.postings, idx.tstats, idx.n_docs, idx.avgdl, batch, 10)), 1)

    with sp("boolean.tree_topk_many"):
        plans = {f"q{i}": p for i, p in enumerate(_compile(qstrs))
                 if not p.phrases and not p.nested}
        specs, spans = [], {}
        for qid, p in plans.items():
            spans[qid] = (len(specs), len(specs) + len(p.specs))
            specs.extend(p.specs)
        exp = expand_specs(idx.tstats, specs) if specs else []
        trees, insts = {}, {}
        for qid, p in plans.items():
            a, b = spans[qid]
            trees[qid], insts[qid] = p.finalize(exp[a:b])
        L["boolean.tree_topk_many_s"] = _median_time(
            lambda: rows_of(boolean_tree_topk_many(
                idx.postings, idx.tstats, idx.n_docs, idx.avgdl, trees,
                insts, 10)), 1)

    with sp("positional.phrase_match_many"):
        phrases = {f"p{i}": (" ".join(qg.phrases[int(j)]), 0)
                   for i, j in enumerate(r.rng.integers(len(qg.phrases),
                                                        size=BATCH))}
        L["positional.phrase_match_many_s"] = _median_time(
            lambda: rows_of(phrase_match_many(idx.positional, phrases)), 1)

    if r.args.workload != "build":
        # the layer-by-layer form of the build the setup ran as one call
        out = os.path.join(r.work, "probe-index")
        with sp("engine.build", "sweep.build"):
            r.build_index(r.corpus_path, out, "sweep.build").close()
        r.check(same_index(out, index_dir), "layer-by-layer build differs "
                "from FulltextIndex.build")

    # the serving operations this workload's window did not run
    r.sweep_ops = []
    have = {o["kind"] for o in r.ops}
    extra = [("search", lambda: rows_of(idx.search(qg.search())), 1),
             ("query", lambda: rows_of(idx.query(qg.query())), 1),
             ("search_many", lambda: rows_of(idx.search_many(
                 {f"s{i}": qg.search() for i in range(BATCH)})),
              BATCH),
             ("query_many", lambda: rows_of(idx.query_many(
                 {f"s{i}": qg.query() for i in range(BATCH)})),
              BATCH)]
    for kind, fn, items in extra:
        if kind not in have:
            for _ in range(2 if items == 1 else 1):
                r.timed(kind, lambda gid, fn=fn: fn(), items, False,
                        into=r.sweep_ops)


def finish(r, t_stop: float, cpu_ms: float) -> dict:
    """Every per-layer metric from the spans, job counts and event log.
    Runs after Spark has stopped, so the event log is complete."""
    from probes import parse_event_log, union_len

    L = dict(r.layer)
    events = parse_event_log(os.path.join(r.work, "events"))
    ops = r.ops + r.sweep_ops + ([r.setup_build]
                                 if hasattr(r, "setup_build") else [])
    for kind in OPS:
        # the facade form of each operation: a traced build's extra
        # materializing jobs are not the build's own
        mine = [o for o in ops if o["kind"] == kind and "dt" in o
                and not o["traced"]]
        n = max(len(mine), 1)
        L[f"spark.jobs_per_op.{kind}"] = sum(o["jobs"] for o in mine) / n
        L[f"spark.tasks_per_op.{kind}"] = sum(o["tasks"] for o in mine) / n
        wall = sum(o["dt"] for o in mine) or 1.0
        ev = [events.get(o["gid"]) for o in mine]
        ev = [e for e in ev if e is not None]
        L[f"spark.slot_busy_ratio.{kind}"] = \
            sum(e["run_ms"] for e in ev) / 1e3 / (wall * r.cpus)
        L[f"spark.shuffle_bytes.{kind}"] = \
            sum(e["shuffle_bytes"] for e in ev) / n
        shares = []
        for o in mine:
            jobs = (events.get(o["gid"]) or {"jobs": []})["jobs"]
            if "t0" in o:
                if "span" in o:
                    for a, b in jobs:
                        r.tr.add("spark.job", a, b, o["span"], o["gid"])
                shares.append(1 - union_len(jobs, o["t0"], o["t1"])
                              / (o["t1"] - o["t0"]))
        L[f"engine.driver_share.{kind}"] = \
            statistics.mean(shares) if shares else 1.0

    def span_median(name: str) -> float:
        ds = [s["end"] - s["start"] for s in r.tr.spans
              if s["name"] == name]
        return statistics.median(ds) if ds else 0.0

    L["fulltext.with_doc_ids_s"] = span_median("fulltext.with_doc_ids")
    L["postings.index_corpus_s"] = span_median("postings.index_corpus")
    L["postings.term_stats_s"] = span_median("postings.term_stats")
    L["positional.build_s"] = span_median("positional.build")

    wall = t_stop - r.t_start
    top = [(s["start"], s["end"]) for s in r.tr.spans
           if s["parent"] is None]
    L["trace.unattributed_share"] = 1 - union_len(top, r.t_start,
                                                  t_stop) / wall
    shares = []
    for kind in {o["kind"] for o in r.ops}:
        t = [o["dt"] for o in r.ops if o["kind"] == kind and o["traced"]]
        u = [o["dt"] for o in r.ops if o["kind"] == kind
             and not o["traced"]]
        if t and u:
            shares.append(statistics.median(t) / statistics.median(u) - 1)
    L["trace.overhead_share"] = statistics.mean(shares) if shares else 0.0
    L["host.cpu_control_ms"] = cpu_ms
    missing = set(UNITS) - set(L)
    if missing:
        raise RuntimeError(f"per-layer metrics not measured: {missing}")
    return {k: float(L[k]) for k in UNITS}
