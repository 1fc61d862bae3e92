"""Fulltext index build + exhaustive BM25 — the DataFrame skeleton.

This is the declarative core: Catalyst plans every stage (scan -> project
(analyze UDF) -> explode -> partial/final hash agg -> broadcast join ->
TakeOrderedAndProject).  The blob/WAND physical layer builds on top of the
same intermediate (operators/postings.py, operators/wand.py).

Scale notes (100 TB / 10^12 docs):
* doc ids are assigned by a two-phase range-partition scheme (sort by key,
  per-partition counts -> prefix offsets), NOT a single global window —
  deterministic at any parallelism because ids = global rank of a unique
  sort key, independent of partition boundaries;
* term frequencies are pre-aggregated per document INSIDE the analyzer UDF
  (map-side combine before any shuffle — the (doc,term,tf) stream is ~100x
  smaller than the raw token stream);
* BM25 per-doc score sums run over sort_array'ed per-term contributions so
  float addition order is fixed at any cluster size (rank identity).
"""

from __future__ import annotations

import bisect

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..analysis import analyze

K1 = 1.2
B = 0.75

# multi-field indexes store non-default-field terms as
# "<field>\x1f<term>" (unit separator — no analyzer emits it); the
# default field stays bare, so single-field indexes and every existing
# facade are layout-identical to round 3
FIELD_SEP = "\x1f"


# below this row count the single-partition windowed rank beats the
# two-phase scheme's 3 extra jobs on measured hardware (BENCH/
# vocab_bench.py: window wins at 10M terms, two-phase 2.2x at 40M);
# chosen well under the crossover so the windowed sort stays trivially
# in one task's memory
SMALL_RANK_THRESHOLD = 5_000_000


def dense_rank_ids(df: DataFrame, order_cols: list[str], id_col: str,
                   partitions: int | None = None, start: int = 0,
                   precache: bool = False,
                   small_threshold: int = 0) -> DataFrame:
    """Dense, deterministic int64 ``id_col`` = ``start`` + global rank of
    ``order_cols`` (which must be a unique key).

    Two-phase: range-partition + local sort, count per partition, prefix-sum
    offsets (driver-side over #partitions integers), then offset + local
    row_number.  Equivalent to row_number() over a global window but without
    the single-partition bottleneck — safe at any cardinality (doc ids over
    10^12 docs, term ids over 10^9-term vocabularies alike).  Deterministic
    at any parallelism because ids depend only on the key's global rank,
    never on partition boundaries.

    ``precache``: persist the INPUT for the two passes that need it (the
    range partitioner's sampling job + the checkpoint materialization) and
    unpersist before returning (the checkpoint holds the data by then).
    Use for inputs that are themselves expensive aggregations but small
    relative to the corpus (term-stats tables); leave off for raw-corpus
    doc ids, where a parquet re-scan beats materializing 100 TB.

    ``small_threshold`` (adaptive mode, 0 = off): count the input first
    and, below the threshold, assign ids with a single-partition window
    instead — IDENTICAL ids by construction (both are the global rank of
    the unique key), but one sort job instead of the two-phase scheme's
    sampling + checkpoint + counts jobs, which dominate latency on small
    vocabularies (BENCH/vocab_bench.py).  The windowed result is eagerly
    checkpointed (bounded by the threshold) so the precached input can be
    released; above the threshold the extra count costs one cached-scan
    job and the scale-safe two-phase path runs unchanged.
    """
    spark = df.sparkSession
    if precache:
        from pyspark import StorageLevel
        # never touch a persistence level the CALLER chose — unpersisting
        # below would silently evict their cache (same rule as
        # postings.write_postings)
        precache = df.storageLevel == StorageLevel.NONE
    if precache:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if small_threshold:
        if df.count() < small_threshold:
            out = df.withColumn(
                id_col,
                (F.row_number().over(Window.orderBy(*order_cols))
                 - 1 + start).cast("long"))
            out = out.localCheckpoint(eager=True)
            if precache:
                df.unpersist()
            return out
    n_part = partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_part, *order_cols) \
               .withColumn("_pid", F.spark_partition_id()) \
               .withColumn("_rn", F.row_number().over(
                   Window.partitionBy("_pid").orderBy(*order_cols)))
    ranged = ranged.localCheckpoint(eager=False)  # pin partitioning for both passes
    # this action materializes EVERY checkpoint partition (full lineage
    # runs once); afterwards downstream reads come from the checkpoint
    counts = ranged.groupBy("_pid").count().collect()
    if precache:
        df.unpersist()
    offsets, acc = [], start
    for row in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += row["count"]
    off_df = spark.createDataFrame(offsets or [(0, start)], "_pid int, _off long")
    return (ranged.join(F.broadcast(off_df), "_pid", "left")
            .withColumn(id_col,
                        (F.col("_rn") - 1 + F.coalesce("_off", F.lit(start))).cast("long"))
            .drop("_pid", "_rn", "_off"))


def with_doc_ids(docs: DataFrame, order_cols: list[str],
                 partitions: int | None = None) -> DataFrame:
    """Dense, deterministic int64 ``doc_id`` = global rank of ``order_cols``
    — the SURVEY.md §2-C "DocID assignment" operator (see dense_rank_ids)."""
    return dense_rank_ids(docs, order_cols, "doc_id", partitions)


def content_invariant_violations(src: DataFrame, derived: DataFrame,
                                 key_cols: list[str],
                                 text_col: str = "content") -> DataFrame:
    """Per-row content-sha256 invariant (input_hint): rows of a derived
    table must carry byte-identical content to the source row with the
    same key.  Returns the violating keys (empty == invariant holds):
    keys missing from either side, or present with differing sha256.

    Full-outer join on the key with JVM-side sha2 — one shuffle, no
    Python; run as a build audit (scripts/build_index.py --audit).
    NULL content is legal and equal to NULL content (null-safe compare
    with explicit presence markers — sha2(NULL) is NULL, so NULLness
    cannot stand in for \"key missing\")."""
    a = src.select(*key_cols, F.sha2(F.col(text_col), 256).alias("_sha_src"),
                   F.lit(True).alias("_in_src"))
    b = derived.select(*key_cols,
                       F.sha2(F.col(text_col), 256).alias("_sha_der"),
                       F.lit(True).alias("_in_der"))
    j = a.join(b, key_cols, "full_outer")
    return (j.filter(F.col("_in_src").isNull()
                     | F.col("_in_der").isNull()
                     | ~F.col("_sha_src").eqNullSafe(F.col("_sha_der")))
            .select(*key_cols, "_sha_src", "_sha_der"))


def term_doc_freqs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "content") -> DataFrame:
    """(doc_id, term, tf, dl) — one row per distinct term per doc.

    mapInPandas emitting FLAT columns: term frequencies are aggregated
    per document inside the Python worker (map-side combine — no groupBy
    over raw tokens ever exists), and the output is four plain Arrow
    columns.  An array<struct> + JVM explode variant benchmarked ~2x
    slower (list-of-tuples construction in Python + nested Arrow
    encoding dominate).
    """
    import numpy as np
    from collections import Counter

    from ..analysis.chain import analyze_terms

    spark = docs.sparkSession
    min_par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < min_par:
        # a single parquet file scans as 1 split; spread the Python
        # analyzer across all cores (prod inputs have many splits)
        docs = docs.repartition(min_par)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            texts = pdf[text_col]
            terms: list[str] = []
            tfs: list[int] = []
            nkeys = np.empty(len(ids), dtype=np.int64)
            dls = np.empty(len(ids), dtype=np.int64)
            for i, text in enumerate(texts):
                toks = analyze_terms(text or "")
                c = Counter(toks)
                ks = sorted(c)
                terms.extend(ks)
                tfs.extend(c[k] for k in ks)
                nkeys[i] = len(ks)
                dls[i] = len(toks)
            yield pd.DataFrame({
                "doc_id": np.repeat(ids, nkeys),
                "dl": np.repeat(dls, nkeys),
                "term": terms,
                "tf": np.asarray(tfs, dtype=np.int32),
            })

    return docs.select(F.col(id_col).alias(id_col), text_col).mapInPandas(
        gen, schema="doc_id long, dl int, term string, tf int")


def corpus_stats(tdf: DataFrame) -> tuple[int, float]:
    """(N docs, avg doc length) in ONE map-side-combined agg pass.

    dl == Σtf within a doc, so avgdl = Σtf / N exactly (integer sums are
    exact; the single double division matches the per-doc-average form
    bit-for-bit).  Docs that analyze to zero terms have no tdf rows and
    are excluded — matching the pandas oracle's definition.
    """
    row = tdf.agg(F.count_distinct("doc_id").alias("n"),
                  F.sum("tf").alias("total")).collect()[0]
    n = int(row["n"] or 0)
    return n, (float(row["total"]) / n if n else 0.0)


def term_stats(tdf: DataFrame) -> DataFrame:
    """(term, df, cf) — partial+final hash agg, JVM-side."""
    return tdf.groupBy("term").agg(
        F.count("*").alias("df"), F.sum("tf").alias("cf"))


def term_dict(tstats: DataFrame) -> DataFrame:
    """Sorted term dictionary with dense 1-based ids (the FST's role,
    SURVEY §1.4) via the same two-phase range-rank as doc ids — a
    10^8-10^9-term code vocabulary never funnels through one partition
    (a global orderBy window would); stored sorted so prefix/range
    queries prune by min/max.  Adaptive: below SMALL_RANK_THRESHOLD terms
    the single-partition windowed rank runs instead (identical ids,
    fewer jobs — BENCH/vocab_bench.py's measured crossover)."""
    return dense_rank_ids(tstats, ["term"], "term_id", start=1,
                          precache=True,
                          small_threshold=SMALL_RANK_THRESHOLD)


def fuzzy_expand(tstats: DataFrame, query_term: str, max_edits: int = 2,
                 prefix_len: int = 0) -> DataFrame:
    """Terms within ``max_edits`` Levenshtein distance of ``query_term``
    -> (term, df, dist) — the reference automaton package's remaining
    role (fuzzy queries; RegExp/RunAutomaton at
    /root/reference/src/util/automaton/ back Lucene's FuzzyQuery).

    Spark-first substitution: instead of compiling a Levenshtein DFA,
    prune with necessary conditions that push into the scan — length
    band (|len(t)-len(q)| <= d) and an optional shared prefix, Lucene
    FuzzyQuery's prefixLength — then evaluate the built-in
    ``levenshtein`` (JVM codegen) on the survivors.  Embarrassingly
    parallel over the term dictionary; no shuffle, no UDF."""
    q = query_term
    cond = (F.length("term") >= len(q) - max_edits) & \
           (F.length("term") <= len(q) + max_edits)
    if prefix_len > 0:
        cond = cond & F.col("term").startswith(q[:prefix_len])
    return (tstats.filter(cond)
            .withColumn("dist", F.levenshtein(F.col("term"), F.lit(q)))
            .filter(F.col("dist") <= max_edits)
            .select("term", "df", "dist"))


class OversizedExpansion:
    """Marker for a negative expansion too large to collect: iterates
    as EMPTY (so plan.finalize drops it from the in-kernel term list)
    and carries ``terms_df`` — the matched dictionary terms AS A
    DATAFRAME — for the doc-set anti-join path (engine.query): matched
    terms -> postings semi-join -> anti-join the doc ids.  The term
    list never reaches the driver or a task closure (r4 VERDICT item
    4: a ``-license*`` clause over a 40M-term vocabulary must not ship
    millions of terms through one collect)."""

    def __init__(self, sid: int, n_terms: int, terms_df: DataFrame):
        self.sid = sid
        self.n_terms = n_terms
        self.terms_df = terms_df

    def __iter__(self):
        return iter(())


def expand_specs(tstats: DataFrame, specs: list[dict],
                 default_field: str | None = None,
                 neg_collect_max: int | None = None,
                 neg_docset_sids: set | None = None,
                 tdict: "TermDictionary | None" = None) -> list:
    """Expand EVERY dictionary-expansion clause of a query -> per-spec
    ``[(term, df, dist), ...]`` lists (terms AS STORED, i.e.
    field-prefixed for non-default fields), each sorted by term.

    With ``tdict`` (the index's driver-resident dictionary) every
    fuzzy/prefix/range spec expands on the driver and launches no Spark
    job; regex specs, and every spec when ``tdict`` is None, expand in
    ONE Spark job over ``tstats``: each spec contributes a condition
    column, matches explode to (spec_id, term, df, dist) rows, and a
    single collect returns every expansion.  One capped spec takes a
    TakeOrderedAndProject; several rank through ONE window partitioned
    by spec_id, except when ``tdict`` is resident: then they collect
    uncapped (its term count bounds the collect) and cap on the driver.
    Regex stays on Spark because the JVM regex dialect is the query
    language's, not Python's.  Both paths return identical lists.

    spec keys:
      kind: 'fuzzy' | 'prefix' | 'regex' | 'range'   (wildcards compile
            to 'regex' upstream — queryparser.wildcard_to_regex)
      value: query term / prefix / regex source
      edits: fuzzy max edits;  prefix_len: fuzzy shared-prefix length
      lo/hi/incl_lo/incl_hi: range bounds (None = open)
      field: None = default field
      cap: int max expansions (df-descending then term-ascending,
           Lucene's top-terms rewrite) or None = UNBOUNDED — required
           for negative clauses, where exclusion needs the full match
           set (Lucene's constant-score rewrite for multi-term queries
           in negative context; r3 ADVICE item 2)

    ``neg_collect_max`` (r5): uncapped specs listed in
    ``neg_docset_sids`` whose match COUNT exceeds this return an
    ``OversizedExpansion`` (terms stay distributed as a DataFrame; the
    caller anti-joins the doc set) instead of a list.  None (default)
    keeps the full list for everything.
    """
    if not specs:
        return []
    jvm = [i for i, sp in enumerate(specs)
           if tdict is None or sp["kind"] == "regex"]
    # several Spark-side specs with a cap would rank through a
    # spec-partitioned window, one job more; with a resident dictionary
    # (at most TERM_DICT_CAP terms) they collect uncapped instead and
    # every cap applies below.  One spec keeps its TakeOrderedAndProject
    uncap = (tdict is not None and len(jvm) > 1
             and any(specs[i].get("cap") is not None for i in jvm))
    out = _expand_jvm(tstats, [dict(sp, cap=None) for sp in specs]
                      if uncap else specs, jvm, default_field,
                      neg_collect_max,
                      neg_docset_sids) if jvm else [[] for _ in specs]
    for i, sp in enumerate(specs):
        if tdict is None or isinstance(out[i], OversizedExpansion):
            continue
        hits = out[i] if sp["kind"] == "regex" \
            else tdict.matches(sp, default_field)
        if sp.get("cap") is not None:
            hits = sorted(hits, key=lambda h: (-h[1], h[0]))[
                :max(int(sp["cap"]), 0)]
        elif (neg_collect_max is not None and neg_docset_sids
              and i in neg_docset_sids and len(hits) > neg_collect_max):
            out[i] = OversizedExpansion(
                i, len(hits),
                tstats.filter(_spec_cond(sp, default_field)[0])
                .select("term"))
            continue
        out[i] = sorted(hits)
    return out


def _field_prefix(sp: dict, default_field: str | None) -> str:
    """Stored-term prefix of a spec's field: "" for the default field
    (bare terms), "<field>\x1f" for any other."""
    fld = sp.get("field") or default_field
    return fld + FIELD_SEP if fld is not None and fld != default_field \
        else ""


def _spec_cond(sp: dict, default_field: str | None):
    """(match condition, dist column) of one expansion spec over the
    ``term`` column of a term-stats DataFrame."""
    prefix = _field_prefix(sp, default_field)
    if prefix:
        in_field = F.col("term").startswith(prefix)
        mt = F.substring(F.col("term"), len(prefix) + 1, 1 << 24)
    else:
        in_field = ~F.col("term").contains(FIELD_SEP)
        mt = F.col("term")
    dist = F.lit(0)
    if sp["kind"] == "fuzzy":
        q = sp["value"]
        d = int(sp.get("edits", 2))
        cond = (F.length(mt) >= len(q) - d) & (F.length(mt) <= len(q) + d)
        pl = int(sp.get("prefix_len", 0))
        if pl > 0:
            cond = cond & mt.startswith(q[:pl])
        dist = F.levenshtein(mt, F.lit(q))
        cond = cond & (dist <= d)
    elif sp["kind"] == "prefix":
        cond = mt.startswith(sp["value"])
    elif sp["kind"] == "regex":
        cond = mt.rlike(f"^(?:{sp['value']})$")
    elif sp["kind"] == "range":
        cond = F.lit(True)
        lo, hi = sp.get("lo"), sp.get("hi")
        if lo is not None:
            cond = cond & (mt >= lo if sp.get("incl_lo", True) else mt > lo)
        if hi is not None:
            cond = cond & (mt <= hi if sp.get("incl_hi", True) else mt < hi)
    else:
        raise ValueError(f"unknown expansion kind {sp['kind']!r}")
    return cond & in_field, dist


def _expand_jvm(tstats: DataFrame, specs: list[dict], sids: list[int],
                default_field: str | None, neg_collect_max: int | None,
                neg_docset_sids: set | None) -> list:
    """expand_specs' Spark path for the specs ``sids`` (the others stay
    ``[]``): one scan, one cap window, one collect."""
    from functools import reduce
    from operator import or_

    conds, dists = zip(*(_spec_cond(specs[i], default_field) for i in sids))
    caps = {i: specs[i].get("cap") for i in sids}
    hits = F.array(*[
        F.when(c, F.struct(F.lit(i).alias("sid"), d.alias("dist")))
        for i, c, d in zip(sids, conds, dists)])
    cap_expr = None
    if any(c is not None for c in caps.values()):
        pairs = []
        for i, c in caps.items():
            pairs += [F.lit(i), F.lit(int(c) if c is not None else 1 << 31)]
        cap_expr = F.element_at(F.create_map(*pairs), F.col("sid"))
    matched = (tstats
               .filter(reduce(or_, conds))       # scan-level pruning
               .select("term", "df", F.explode(hits).alias("h"))
               .filter(F.col("h").isNotNull())
               .select(F.col("h.sid").alias("sid"), "term", "df",
                       F.col("h.dist").alias("dist")))
    if len(sids) == 1 and caps[sids[0]] is not None:
        # one capped spec: a TakeOrderedAndProject, one job fewer than
        # the spec-partitioned window's exchange
        matched = matched.orderBy(F.desc("df"), F.asc("term")) \
            .limit(max(int(caps[sids[0]]), 0))
    elif cap_expr is not None:
        w = Window.partitionBy("sid").orderBy(F.desc("df"), F.asc("term"))
        matched = (matched.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") <= cap_expr).drop("_rn"))
    out: list = [[] for _ in specs]
    if neg_collect_max is not None and neg_docset_sids:
        check = sorted(s for s in neg_docset_sids
                       if s in caps and caps[s] is None)
        if check:
            # localCheckpoint: the count probe and the collect (and any
            # later doc-set joins) reuse one evaluation of the scan
            matched = matched.localCheckpoint(eager=False)
            counts = {int(r["sid"]): int(r["n"]) for r in
                      matched.filter(F.col("sid").isin(check))
                      .groupBy("sid").agg(F.count("*").alias("n"))
                      .collect()}
            oversized = {s: n for s, n in counts.items()
                         if n > neg_collect_max}
            if oversized:
                for s, n in oversized.items():
                    out[s] = OversizedExpansion(
                        s, n,
                        matched.filter(F.col("sid") == s)
                        .select("term"))
                matched = matched.filter(
                    ~F.col("sid").isin(sorted(oversized)))
    for r in matched.collect():
        out[int(r["sid"])].append(
            (r["term"], int(r["df"]), int(r["dist"])))
    for lst in out:
        if isinstance(lst, list):
            lst.sort()
    return out


class TermDictionary:
    """Sorted term -> df dictionary held on the driver (the FST terms
    index's role, SURVEY §1.4): an immutable index answers df lookups
    and fuzzy/prefix/range expansion from it without a Spark job.
    Every expansion computes what the Spark path computes — code-point
    lengths, prefixes and Levenshtein distances, and code-point order,
    which is the JVM's UTF-8 byte order."""

    def __init__(self, rows):
        pairs = sorted((r[0], int(r[1])) for r in rows)
        self.terms = [t for t, _ in pairs]
        self.df = dict(pairs)
        self._by_len: dict[int, list[str]] | None = None

    def __len__(self) -> int:
        return len(self.terms)

    def _prefix_span(self, p: str) -> tuple[int, int]:
        """[i, j) of the sorted terms that start with ``p``."""
        i = bisect.bisect_left(self.terms, p)
        # every string in [p, p + U+10FFFF) starts with p; longer
        # continuations of p + U+10FFFF sort after it
        j = bisect.bisect_left(self.terms, p + "\U0010ffff", i)
        while j < len(self.terms) and self.terms[j].startswith(p):
            j += 1
        return i, j

    def matches(self, sp: dict, default_field: str | None) -> list:
        """Uncapped [(term, df, dist)] of one fuzzy/prefix/range spec
        (expand_specs' spec keys)."""
        fp = _field_prefix(sp, default_field)
        kind = sp["kind"]
        if kind == "fuzzy":
            return self.fuzzy(sp["value"], int(sp.get("edits", 2)),
                              int(sp.get("prefix_len", 0)), fp, True)
        if kind == "prefix":
            i, j = self._prefix_span(fp + sp["value"])
        elif kind == "range":
            i, j = self._prefix_span(fp)
            lo, hi = sp.get("lo"), sp.get("hi")
            if lo is not None:
                cut = bisect.bisect_left if sp.get("incl_lo", True) \
                    else bisect.bisect_right
                i = cut(self.terms, fp + lo, i, j)
            if hi is not None:
                cut = bisect.bisect_right if sp.get("incl_hi", True) \
                    else bisect.bisect_left
                j = cut(self.terms, fp + hi, i, j)
        else:
            raise ValueError(f"no driver-side expansion for {kind!r}")
        return [(t, self.df[t], 0) for t in self.terms[i:j]
                if fp or FIELD_SEP not in t]

    def fuzzy(self, q: str, d: int, prefix_len: int = 0, fp: str = "",
              scoped: bool = False) -> list:
        """[(term, df, dist)]: terms whose part after ``fp`` lies within
        ``d`` edits of ``q`` (and shares its first ``prefix_len``
        characters).  ``scoped`` keeps only the field ``fp`` names
        (bare terms for ""); fuzzy_expand's whole-term form is
        unscoped.  Length band first, then Levenshtein on survivors."""
        lo, hi = len(q) - d + len(fp), len(q) + d + len(fp)
        if prefix_len > 0:
            i, j = self._prefix_span(fp + q[:prefix_len])
            cands = [t for t in self.terms[i:j] if lo <= len(t) <= hi]
        else:
            if self._by_len is None:
                self._by_len = {}
                for t in self.terms:
                    self._by_len.setdefault(len(t), []).append(t)
            cands = [t for n in range(max(lo, 0), hi + 1)
                     for t in self._by_len.get(n, ())]
        if scoped:
            cands = [t for t in cands
                     if (t.startswith(fp) if fp else FIELD_SEP not in t)]
        dist = _levenshtein(q, [t[len(fp):] for t in cands], d)
        return [(t, self.df[t], int(x)) for t, x in zip(cands, dist)
                if x <= d]

    def suggest(self, term: str, max_edits: int = 2, k: int = 5,
                prefix_len: int = 1) -> list:
        """suggest_terms' rows, (dist asc, df desc, term asc)[:k]."""
        hits = self.fuzzy(term, max_edits, prefix_len)
        return sorted(hits, key=lambda h: (h[2], -h[1], h[0]))[:k]


def _levenshtein(q: str, terms: list[str], d: int) -> np.ndarray:
    """Levenshtein distance over code points from ``q`` to each of
    ``terms`` (Spark's ``levenshtein``) where it is <= ``d``, else d + 1.
    One NumPy DP per term length: row i is min(substitute, delete) from
    row i-1, then the insertion chain as a running minimum of (cell -
    column) + column.  Row minima never decrease, so a term whose row
    minimum passes ``d`` leaves the DP."""
    out = np.full(len(terms), d + 1, dtype=np.int64)
    by_len: dict[int, list[int]] = {}
    for i, t in enumerate(terms):
        by_len.setdefault(len(t), []).append(i)
    qa = np.frombuffer(q.encode("utf-32-le", "surrogatepass"), np.uint32)
    for n, ids in by_len.items():
        ids = np.asarray(ids)
        col = np.arange(n + 1)
        arr = np.frombuffer("".join(terms[i] for i in ids)
                            .encode("utf-32-le", "surrogatepass"),
                            np.uint32).reshape(len(ids), n)
        row = np.broadcast_to(col, (len(ids), n + 1))
        for i, c in enumerate(qa, 1):
            cur = np.empty((len(ids), n + 1), dtype=np.int64)
            cur[:, 0] = i
            np.minimum(row[:, :-1] + (arr != c), row[:, 1:] + 1,
                       out=cur[:, 1:])
            row = np.minimum.accumulate(cur - col, axis=1) + col
            live = row.min(axis=1) <= d
            if not live.all():
                ids, arr, row = ids[live], arr[live], row[live]
        out[ids] = np.minimum(row[:, n], d + 1)
    return out


def suggest_terms(tstats: DataFrame, term: str, max_edits: int = 2,
                  k: int = 5, prefix_len: int = 1) -> DataFrame:
    """Spell-correction candidates (Lucene DirectSpellChecker role) ->
    (term, df, dist), ranked the way DirectSpellChecker does: smaller
    edit distance first, then higher df (a more frequent word is the
    likelier intended one), term asc as the deterministic tie-break.
    ``prefix_len`` defaults to 1 — DirectSpellChecker's default; typos
    rarely break the first letter and the shared-prefix predicate is
    scan-prunable on the sorted dictionary."""
    return (fuzzy_expand(tstats, term, max_edits, prefix_len)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(k))


def idf(n_docs: int, df: int) -> float:
    """Lucene BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    Computed in PYTHON (driver-side, query terms only): java.lang.Math.log
    and libm can disagree by 1 ulp, which breaks the bit-identical
    rank-identity contract between the JVM scorer, the WAND pandas kernel
    and the pure-pandas oracle.  Shipping idf as a literal keeps the JVM
    side to exact IEEE +,*,/ only.
    """
    import math
    return math.log(1.0 + (float(n_docs) - df + 0.5) / (df + 0.5))


def empty_frame(spark, schema: str) -> DataFrame:
    """A zero-row DataFrame of ``schema`` that collects WITHOUT a Spark
    job: LIMIT 0 lets the optimizer fold it, and any sort, limit or
    window above it, to an empty local relation (a bare
    ``createDataFrame([])`` launches one job)."""
    return spark.createDataFrame([], schema).limit(0)


def bm25_scores(tdf: DataFrame, tstats: DataFrame, n_docs: int, avgdl: float,
                query_terms: list[str], k1: float = K1, b: float = B) -> DataFrame:
    """Exhaustive BM25 over all matching docs -> (doc_id, score).

    Query terms (tiny) are broadcast; per-term contributions are summed in
    term order via sort_array + aggregate so the float result is identical
    at any parallelism (SURVEY §4 "rank identity" engineering note).
    """
    spark = tdf.sparkSession
    terms = sorted(set(query_terms))
    dfs = {r["term"]: r["df"] for r in
           tstats.filter(F.col("term").isin(terms)).select("term", "df").collect()}
    rows = [(t, idf(n_docs, dfs[t])) for t in terms if t in dfs]
    if not rows:
        return empty_frame(spark, "doc_id long, score double")
    qt = spark.createDataFrame(rows, "term string, idf double")
    scored = (tdf.join(F.broadcast(qt), "term")
              .withColumn(
                  "contrib",
                  F.col("idf") * (F.col("tf") * (k1 + 1.0))
                  / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / float(avgdl)))))
    return (scored.groupBy("doc_id")
            .agg(F.sort_array(F.collect_list(F.struct("term", "contrib")))
                 .alias("parts"))
            .select("doc_id",
                    F.aggregate("parts", F.lit(0.0),
                                lambda acc, x: acc + x["contrib"]).alias("score")))


def bm25_topk(tdf: DataFrame, tstats: DataFrame, n_docs: int, avgdl: float,
              query: str, k: int = 10) -> DataFrame:
    """Analyze the query with the SAME chain as indexing, then top-k with a
    total tie-break (score desc, doc_id asc) -> TakeOrderedAndProject."""
    terms = [t.term for t in analyze(query)]
    if not terms:
        return empty_frame(tdf.sparkSession, "doc_id long, score double")
    scores = bm25_scores(tdf, tstats, n_docs, avgdl, terms)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
