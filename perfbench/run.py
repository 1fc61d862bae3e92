#!/usr/bin/env python3
"""The repository benchmark: index build and BM25 serving, end to end.

    python3 perfbench/run.py --workload build --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/NOTES.md for why each exists):

* ``build`` - FulltextIndex.build(positional=True) + save() on fresh seeded
              slices of a generated source-code corpus;
* ``serve`` - against a saved-then-loaded positional index: one search()
              or query() call at a time for the first half of the window,
              search_many()/query_many() batches for the second half.

Load comes from this one process on local[<cores>], a closed loop with a
single client.  ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer ones.  The last stdout line is the result object; the line
before it is a fuller report (sample counts, workload properties).
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "php_lucene_analyzer_spark"

WORKLOADS = ("build", "serve")
BUILD_DOCS = 1_000     # documents per timed build slice
SERVE_DOCS = 2_000     # documents in the served index
BATCH = 50             # queries per search_many / query_many call
TERMS = 5_000          # query terms: this many of the highest-df terms
ORDER = ["repo", "path"]
K = 10
SAMPLE = 3             # batch qids checked per batch kind and run
EXHAUSTIVE = 3         # search() answers checked against bm25_topk


def _session(work: str, cpus: int, trace: bool):
    """Start the package's own session (session.get_spark) with the
    benchmark's additions: no console progress, spill and temp files in
    the run's work dir, and, when tracing, an uncompressed event log."""
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work}/events",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) \
        + " pyspark-shell"
    # every JVM spark-submit starts, its launcher too, keeps out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from php_lucene_analyzer_spark.session import get_spark
    spark = get_spark(app="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def _wait_children(timeout_s: float = 30.0) -> None:
    from probes import _children
    end = time.time() + timeout_s
    while _children().get(os.getpid()) and time.time() < end:
        time.sleep(0.1)


def rows_of(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def same(a: list[tuple], b: list[tuple]) -> bool:
    return sorted(a) == sorted(b)


def by_qid(rows: list[tuple]) -> dict[str, list[tuple]]:
    """A *_many() answer split into each qid's rows (qid dropped)."""
    out: dict[str, list[tuple]] = {}
    for r in rows:
        out.setdefault(r[0], []).append(r[1:])
    return out


def same_index(a: str, b: str) -> bool:
    """Two saved index directories hold the same stats and the same
    postings and positional rows, whatever their row order and files."""
    import pyarrow.parquet as pq

    def rows(d: str) -> list[str]:
        t = pq.read_table(d)
        t = t.select(sorted(t.column_names))
        return sorted(map(repr, zip(*(c.to_pylist() for c in t.columns))))

    def stats(d: str) -> dict:
        with open(os.path.join(d, "stats.json")) as f:
            return json.load(f)

    return stats(a) == stats(b) and all(
        rows(os.path.join(a, p)) == rows(os.path.join(b, p))
        for p in ("postings", "positional"))


def pct(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of a non-empty sample."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Run:
    def __init__(self, args, work: str):
        import numpy as np

        import gen
        from probes import JobCounter, Tracer
        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.tr = Tracer()
        self.rng = np.random.default_rng([args.seed, 9])
        self.gen = gen
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict] = []        # timed operations, in order
        self.layer: dict[str, float] = {}
        self.props: dict = {}
        self.t_start = time.time()
        with self.tr.span("spark.session"):
            t = time.perf_counter()
            self.spark = _session(work, self.cpus, self.trace)
            self.layer["spark.session_start_s"] = time.perf_counter() - t
        self.jc = JobCounter(self.spark.sparkContext)

    # ---------------------------------------------------------- inputs
    def write_slice(self, vocab, first: int, n: int) -> tuple[str, int]:
        import pyarrow as pa
        import pyarrow.parquet as pq
        pdf = self.gen.corpus(self.args.seed, n, vocab, first=first)
        path = os.path.join(self.work, f"corpus-{first}.parquet")
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       path)
        return path, int(pdf["content"].str.len().sum())

    # ----------------------------------------------------------- build
    def build_index(self, corpus: str, out: str, op: str | None = None):
        """Build + save one positional index.  Without ``op``: the facade
        call a user makes.  With ``op`` (traced runs): the same steps
        through each module's public function, each forced to
        materialize in a span of its own labelled with ``op``."""
        from php_lucene_analyzer_spark.engine import FulltextIndex
        if op is None:
            idx = FulltextIndex.build(
                self.spark, self.spark.read.parquet(corpus), ORDER,
                positional=True)
            idx.save(out)
            return idx
        from php_lucene_analyzer_spark.operators import fulltext as ft
        from php_lucene_analyzer_spark.operators.positional import \
            positional_postings
        from php_lucene_analyzer_spark.operators.postings import (
            corpus_stats_from_postings, index_corpus,
            term_stats_from_postings)
        sp = self.tr.span
        with sp("sources.scan", op):
            docs = self.spark.read.parquet(corpus)
            docs.write.format("noop").mode("overwrite").save()
        with sp("fulltext.with_doc_ids", op):
            ids = ft.with_doc_ids(docs, ORDER).cache()
            n = ids.count()
        with sp("postings.index_corpus", op):
            postings = index_corpus(ids, "doc_id", "content").cache()
            postings.count()
        with sp("postings.term_stats", op):
            tstats = term_stats_from_postings(postings).cache()
            tstats.count()
            avgdl = corpus_stats_from_postings(postings, n)
        with sp("positional.build", op):
            pos = positional_postings(ids, "doc_id", "content").cache()
            pos.count()
        idx = FulltextIndex(self.spark, postings, tstats, n, avgdl,
                            None, pos)
        idx._cached = [ids, postings, tstats, pos]
        with sp("engine.save", op):
            idx.save(out)
        return idx

    def timed(self, kind: str, fn, items: int, traced: bool,
              into: list | None = None) -> dict:
        """Run one operation under its own job group, time it, count its
        Spark jobs and tasks afterwards.  ``traced`` selects the
        layer-by-layer form of a build."""
        gid = self.jc.group(kind)
        rec = {"kind": kind, "gid": gid, "items": items, "traced": traced}
        self.attempted += 1
        try:
            if self.trace:
                with self.tr.span(f"engine.{kind}", gid) as s:
                    rec["span"] = self.tr.current()
                    rec["result"] = fn(gid)
                rec["t0"], rec["t1"] = s["start"], s["end"]
                rec["dt"] = s["end"] - s["start"]
            else:
                t = time.perf_counter()
                rec["result"] = fn(gid)
                rec["dt"] = time.perf_counter() - t
        except Exception as e:  # an operation failing is a result
            self.failed += 1
            rec["error"] = repr(e)
            print(f"perfbench: {kind} failed: {e!r}", file=sys.stderr)
        rec["jobs"], rec["tasks"] = self.jc.count(gid)
        self.sc_group("bench")
        (self.ops if into is None else into).append(rec)
        return rec

    def sc_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def window(self, name: str, steps: list, seconds: float) -> None:
        """Run rounds of ``steps`` (each ``step(traced)`` runs one timed
        operation) until ``seconds`` of wall time have passed.  In a
        traced run odd rounds run traced and even rounds untraced, the
        baseline of the tracing overhead; it runs at least three rounds,
        so that each traced round is followed by an untraced one."""
        t_end = time.time() + seconds
        rnd = 0
        # a traced run gives each operation its own top-level span
        with nullcontext() if self.trace else self.tr.span(name):
            while time.time() < t_end or rnd < 1 + 2 * self.trace:
                for step in steps:
                    step(self.trace and rnd % 2 == 1)
                rnd += 1

    def check(self, ok: bool, what: str) -> None:
        """Count one checked answer; a mismatch is a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: wrong answer: {what}", file=sys.stderr)

    # ------------------------------------------------------- workloads
    def run_build(self) -> None:
        from php_lucene_analyzer_spark.engine import FulltextIndex
        from probes import dir_bytes
        vocab = self.gen.Vocabulary()
        with self.tr.span("gen.corpus"):
            slices = [self.write_slice(vocab, i * BUILD_DOCS, BUILD_DOCS)
                      for i in range(8)]
        with self.tr.span("warmup"):
            self.build_index(slices[0][0], self.out(0)).close()
        self.setup_s = time.time() - self.t_start
        last: dict = {}
        # a traced run's untraced round rebuilds the slice the traced round
        # before it built, through the facade, and compares the two saved
        # indexes: the layer-by-layer copy must produce what the facade does
        pending: dict = {}

        def step(traced: bool) -> None:
            i = pending["i"] if pending else len(self.ops) + 1
            while len(slices) <= i:
                slices.append(self.write_slice(
                    vocab, len(slices) * BUILD_DOCS, BUILD_DOCS))
            path, nbytes = slices[i]
            if last.get("idx") is not None:
                last["idx"].close()
                if last["out"] != pending.get("out"):
                    shutil.rmtree(last["out"], ignore_errors=True)
            out = self.out(len(self.ops) + 1)
            rec = self.timed(
                "build", lambda gid: self.build_index(
                    path, out, gid if traced else None),
                BUILD_DOCS, traced)
            idx = rec.pop("result", None)
            last.clear()
            if idx is None:
                return
            rec["index_ratio"] = dir_bytes(out) / nbytes
            self.check(idx.n_docs == BUILD_DOCS, f"build {i} n_docs")
            if pending:
                self.check(same_index(pending["out"], out),
                           f"slice {i}: layer-by-layer build differs from "
                           f"FulltextIndex.build")
                shutil.rmtree(pending["out"], ignore_errors=True)
                pending.clear()
            elif traced:
                pending.update(i=i, out=out)
            last.update(idx=idx, out=out, path=path)

        self.window("window", [step], self.args.seconds)
        if not last:
            raise RuntimeError("the window's last build failed")
        self.built, out = last["idx"], last["out"]
        self.index_dir, self.corpus_path = out, last["path"]
        self.props.update(docs=BUILD_DOCS, content_bytes=slices[1][1])
        self.peak_mb = self.rss.peak_mb
        with self.tr.span("checks"):
            self.idx = FulltextIndex.load(self.spark, out)
            self.finish_serving_inputs()
            # fresh single answers from the loaded index, then the batch
            # and exhaustive checks the serve workload runs on its window
            singles = []
            for kind, fn, mk, n in (
                    ("search", self.idx.search, self.qg.search, 2),
                    ("query", self.idx.query, self.qg.query, 1)):
                for _ in range(n):
                    q = mk()
                    singles.append({"kind": kind, "q": q,
                                    "result": rows_of(fn(q, K))})
            self.check_answers(singles, [])

    def run_serve(self) -> None:
        from php_lucene_analyzer_spark.engine import FulltextIndex
        vocab = self.gen.Vocabulary()
        with self.tr.span("gen.corpus"):
            path, nbytes = self.write_slice(vocab, 0, SERVE_DOCS)
        self.corpus_path = path
        out = self.index_dir = self.out(0)
        gid = self.jc.group("build")
        with self.tr.span("engine.build", gid) as s:
            self.built = self.build_index(path, out)
        self.setup_build = {"kind": "build", "gid": gid,
                            "dt": s["end"] - s["start"], "t0": s["start"],
                            "t1": s["end"], "traced": False, "items":
                            SERVE_DOCS}
        self.setup_build["jobs"], self.setup_build["tasks"] = \
            self.jc.count(gid)
        self.sc_group("bench")
        from probes import dir_bytes
        self.index_ratio = dir_bytes(out) / nbytes
        with self.tr.span("engine.load"):
            self.idx = FulltextIndex.load(self.spark, out)
        self.props.update(docs=SERVE_DOCS, content_bytes=nbytes)
        with self.tr.span("gen.queries"):
            self.finish_serving_inputs()
        idx, qg = self.idx, self.qg
        single = [("search", idx.search, qg.search),
                  ("query", idx.query, qg.query)]
        batch = [("search_many", idx.search_many, qg.search),
                 ("query_many", idx.query_many, qg.query)]
        with self.tr.span("warmup"):
            for _, fn, mk in single:
                rows_of(fn(mk()))
            for _, fn, mk in batch:
                rows_of(fn({f"w{i}": mk() for i in range(5)}))
        self.setup_s = time.time() - self.t_start

        def stepper(kind, fn, mk, n: int):
            def step(traced: bool) -> None:
                q = {f"q{i}": mk() for i in range(n)} if n else mk()
                rec = self.timed(kind, lambda gid: rows_of(fn(q)),
                                 n or 1, traced)
                rec["q"] = q
            return step

        half = self.args.seconds / 2
        self.window("window.single",
                    [stepper(k, fn, mk, 0) for k, fn, mk in single], half)
        self.window("window.batch",
                    [stepper(k, fn, mk, BATCH) for k, fn, mk in batch], half)
        self.peak_mb = self.rss.peak_mb
        with self.tr.span("checks"):
            good = [o for o in self.ops if "result" in o]
            sampled = []
            for kind in ("search_many", "query_many"):
                recs = [o for o in good if o["kind"] == kind]
                for _ in range(SAMPLE if recs else 0):
                    rec = recs[int(self.rng.integers(len(recs)))]
                    qid = sorted(rec["q"])[int(self.rng.integers(BATCH))]
                    sampled.append({"kind": kind, "q": rec["q"][qid],
                                    "result": [r[1:] for r in rec["result"]
                                               if r[0] == qid]})
            self.check_answers([o for o in good if o["kind"] in
                                ("search", "query")], sampled)

    def out(self, i: int) -> str:
        return os.path.join(self.work, f"index-{i}")

    def finish_serving_inputs(self) -> None:
        """Query generator over the served index's own dictionary."""
        import re

        from php_lucene_analyzer_spark.analysis import analyze
        rows = self.idx.tstats.select("term", "df").collect()
        ok = re.compile(r"[a-z][a-z0-9_]*\Z")
        terms = sorted(((r["df"], r["term"]) for r in rows
                        if ok.match(r["term"])), key=lambda x: (-x[0], x[1]))
        terms = [t for _, t in terms[:TERMS]
                 if [x.term for x in analyze(t)] == [t]]
        content = self.spark.read.parquet(self.corpus_path) \
            .select("content").limit(400).toPandas()["content"]
        pair = re.compile(r"// (\w+) (\w+) \w+ (\w+) (\w+)")
        phrases = sorted({p for c in content for m in pair.findall(c)
                          for p in ((m[0], m[1]), (m[2], m[3]))})
        self.qg = self.gen.QueryGen(self.args.seed, terms, phrases)
        self.props["distinct_terms"] = len(rows)

    # ------------------------------------------------------------ checks
    def tdf(self):
        if not hasattr(self, "_tdf"):
            from php_lucene_analyzer_spark.operators import fulltext as ft
            docs = ft.with_doc_ids(self.spark.read.parquet(self.corpus_path),
                                   ORDER)
            self._tdf = ft.term_doc_freqs(docs, "doc_id", "content").cache()
        return self._tdf

    def check_answers(self, singles: list[dict],
                      sampled: list[dict]) -> None:
        """Answer checks, run outside any timed window.  ``singles`` are
        search()/query() answers of the load()ed index; ``sampled`` are
        single qids' answers taken from search_many()/query_many()
        batches.  Per query family, all of their queries go into one
        batch sent to the load()ed index:

        * each single answer equals its qid's answer in that batch;
        * each sampled answer equals its qid's answer in that batch;
        * the in-memory index answers the family's first single query as
          the load()ed index did;
        * the first EXHAUSTIVE search() answers equal ``ft.bm25_topk``.
        """
        from php_lucene_analyzer_spark.operators import fulltext as ft
        idx = self.idx
        for one, many in (("search", "search_many"), ("query", "query_many")):
            recs = [o for o in singles if o["kind"] == one] \
                + [o for o in sampled if o["kind"] == many]
            batch = {f"c{i}": o["q"] for i, o in enumerate(recs)}
            got = by_qid(rows_of(getattr(idx, many)(batch, K)))
            for (qid, q), o in zip(batch.items(), recs):
                self.check(same(o["result"], got.get(qid, [])),
                           f"{o['kind']} {q!r} vs {many}")
            if recs and recs[0]["kind"] == one:
                q = recs[0]["q"]
                self.check(same(recs[0]["result"],
                                rows_of(getattr(self.built, one)(q, K))),
                           f"{one} {q!r}: load()ed vs in-memory index")
        for o in [o for o in singles if o["kind"] == "search"][:EXHAUSTIVE]:
            ref = rows_of(ft.bm25_topk(self.tdf(), idx.tstats, idx.n_docs,
                                       idx.avgdl, o["q"], K))
            self.check(same(o["result"], ref), f"search {o['q']!r} vs "
                       f"bm25_topk")

    # ----------------------------------------------------------- metrics
    def e2e(self) -> dict:
        ok = [o for o in self.ops if "dt" in o]
        by: dict[str, list[float]] = {}
        for o in ok:
            by.setdefault(o["kind"], []).append(o["dt"])
        per_kind = {k: {"n": len(v), "p50_ms": statistics.median(v) * 1e3,
                        "p90_ms": pct(v, 0.9) * 1e3,
                        "items_per_s": sum(o["items"] for o in ok
                                           if o["kind"] == k) / sum(v)}
                    for k, v in by.items()}
        if self.args.workload == "build":
            ratio = statistics.median(o["index_ratio"] for o in ok)
            single, bulk = ["build"], ["build"]
        else:
            ratio = self.index_ratio
            single, bulk = ["search", "query"], ["search_many", "query_many"]
        items = {o["kind"]: o["items"] for o in ok}
        return {
            "setup_s": self.setup_s,
            "latency_p50_ms": statistics.mean(per_kind[k]["p50_ms"]
                                              for k in single),
            # one operation of each bulk kind at its median time: a
            # short stall on a shared host moves a median less than a sum
            "throughput_per_s": sum(items[k] for k in bulk)
            / sum(per_kind[k]["p50_ms"] / 1e3 for k in bulk),
            # setup and window only: the answer checks allocate more
            "peak_rss_mb": self.peak_mb,
            "index_bytes_per_input_byte": ratio,
        }, per_kind

    def batch_repeat_share(self) -> float:
        """Share of analyzed query terms that repeat within a batch of
        BATCH queries from this workload's query stream."""
        from php_lucene_analyzer_spark.analysis import analyze
        qg = self.gen.QueryGen(self.args.seed + 1, self.qg.terms,
                               self.qg.phrases)
        total = distinct = 0
        for mk in (qg.search, qg.query):
            seen: set[str] = set()
            for _ in range(BATCH):
                ts = {t.term for t in analyze(mk())}
                total += len(ts)
                seen |= ts
            distinct += len(seen)
        return 1 - distinct / total if total else 0.0


def phases(tr, t0: float, t1: float) -> dict[str, float]:
    """Wall time of each top-level span, and of what no span covers."""
    out: dict[str, float] = {}
    for s in tr.spans:
        if s["parent"] is None:
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
    out["other"] = (t1 - t0) - sum(out.values())
    return out


UNITS = {"setup_s": "s", "latency_p50_ms": "ms", "throughput_per_s": "1/s",
         "peak_rss_mb": "MB", "index_bytes_per_input_byte": "ratio"}


def run(args, work: str) -> tuple[dict, dict]:
    from probes import RssSampler, cpu_control_ms, cpu_times, steal_share
    jiffies0 = cpu_times()
    cpu0 = cpu_control_ms()
    with RssSampler() as rss:
        r = Run(args, work)
        r.rss = rss
        try:
            if args.workload == "build":
                r.run_build()
            else:
                r.run_serve()
                with r.tr.span("gen.queries"):
                    r.props["batch_term_repeat_share"] = \
                        r.batch_repeat_share()
            if r.trace:
                import layers
                layers.sweep(r)
        finally:
            t_stop = time.time()
            _stop(r.spark)
    _wait_children()
    cpu1 = cpu_control_ms()
    steal = steal_share(jiffies0, cpu_times())
    e2e, per_kind = r.e2e()
    jobs = {}
    for o in r.ops:
        j = jobs.setdefault(o["kind"], {"jobs": 0, "tasks": 0, "n": 0})
        j["jobs"] += o["jobs"]
        j["tasks"] += o["tasks"]
        j["n"] += 1
    report = {
        "workload": args.workload, "seed": args.seed, "cores": r.cpus,
        "inputs": r.props, "ops": per_kind,
        "jobs_per_op": {k: v["jobs"] / v["n"] for k, v in jobs.items()},
        "tasks_per_op": {k: v["tasks"] / v["n"] for k, v in jobs.items()},
        "host.cpu_control_ms": [cpu0, cpu1],
        "host.steal_share": steal,
        "error_rate": r.failed / max(r.attempted, 1),
        "phase_s": phases(r.tr, r.t_start, t_stop),
        "end_to_end": e2e,
    }
    if r.trace:
        import layers
        metrics = layers.finish(r, t_stop, (cpu0 + cpu1) / 2)
        report["per_layer"] = metrics
        os.makedirs(os.path.join(ROOT, ".bench_work", "traces"),
                    exist_ok=True)
        r.tr.write(os.path.join(ROOT, ".bench_work", "traces",
                                f"{args.workload}-{args.seed}.json"))
        out = {k: {"value": v, "unit": layers.UNITS[k]}
               for k, v in metrics.items()}
    else:
        out = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    result = {"correct": r.failed == 0, "attempted": r.attempted,
              "failed": r.failed, "metrics": out}
    return report, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG}/ not found in {ROOT}; run from "
              f"a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".bench_work",
                        f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        report, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
