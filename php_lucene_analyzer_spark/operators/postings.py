"""Posting-list construction: delta-gap + VByte blocks with block-max skip
metadata (SURVEY.md §2-C "Posting-list build" / "Segment merge").

One build path, one storage schema:

``index_corpus`` and ``positional.positional_postings`` are column views
of ONE private builder, ``_index_blocks``.  The documents are already
range-partitioned by doc_id (with_doc_ids), so each partition is a
disjoint contiguous doc range — the Lucene *segment* model.  Per
partition, one mapInPandas analyzes each doc once per field, accumulates
term -> (docs, tfs, dls[, freqs, positions, offsets]) and emits finished
block rows; with positions, a term's doc blocks and positional blocks
tile identically, so both ride in one wide row and the two tables are
projections of it.  NO raw (doc,term,tf) row ever crosses the wire; the
only shuffle in the whole index build is the one that assigned doc ids.
"Segment merge" costs zero: blocks are doc-sorted within a partition and
partitions are doc-disjoint, so the per-term global posting list is just
the rows ordered by (rbucket, block_no).  Zipf skew: a heavy term's
postings are split across ALL partitions — no reducer ever holds a full
heavy-term list.

Term statistics FALL OUT of the block metadata (df = Σ n, cf = Σ sum_tf,
Σdl = Σ cf over all terms) — no separate corpus-wide aggregation pass.

Block-max metadata stores (max_tf, min_dl) rather than a precomputed
impact: BM25 impact is monotone increasing in tf and decreasing in dl, so
idf·(k1+1)·max_tf/(max_tf + k1(1−b+b·min_dl/avgdl)) is a valid upper
bound computable at query time with the final avgdl — this is what lets
the build stay single-pass (avgdl is unknown while blocks are written).

Schema (one row per ≤128-doc block — bounded row size, parallel scan,
WAND prunes whole rows by (first_doc, last_doc, max_tf, min_dl)):

    term string, rbucket long, block_no int, n int,
    first_doc long, last_doc long, max_tf int, min_dl int, sum_tf long,
    doc_blob binary (delta+VByte), tf_blob binary, dl_blob binary
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.codec import vbyte_decode_slices, vbyte_encode_slices

BLOCK_SIZE = 128

# The builder flushes its per-partition accumulator to finished block
# rows every ~FLUSH_POSTINGS TOKENS (Σ dl of the docs accumulated —
# postings and stored positions are each at most that): bounds the
# working set to ~4 MB of array('q') per accumulator column per worker,
# whatever the partition size (32 workers on one box otherwise contend
# for DRAM bandwidth as partitions grow — the measured 1M-doc scaling
# gap, BENCH/BASELINE.md).  It is the ONE bound of every build: runs
# with and without positions flush at the same docs.  Each flush gets
# its own rbucket: a doc's postings and positions, in all its fields,
# land in one flush (docs are analyzed whole), so every rbucket still
# holds ALL postings of a disjoint doc set — the WAND-bucket invariant.
# RBUCKET_STRIDE leaves room for 2^10 flushes per partition (a flush
# covers >= 0.5M tokens, so hitting the stride would need a >500M-token
# input split — two orders beyond spark.sql.files.maxPartitionBytes).
FLUSH_POSTINGS = 1 << 19
RBUCKET_STRIDE = 1 << 10

POSTINGS_SCHEMA = (
    "term string, rbucket long, block_no int, n int, first_doc long, "
    "last_doc long, max_tf int, min_dl int, sum_tf long, "
    "doc_blob binary, tf_blob binary, dl_blob binary"
)

_COLS = ["term", "rbucket", "block_no", "n", "first_doc", "last_doc",
         "max_tf", "min_dl", "sum_tf", "doc_blob", "tf_blob", "dl_blob"]


def tile_blocks(term_offsets: np.ndarray, block_size: int
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Tile per-term slices into <= block_size-doc blocks (the one tiling
    of both block layouts, via _doc_blocks): -> (term_idx, block_no,
    bstarts, bends), all in the concatenated doc-index space."""
    counts = np.diff(term_offsets)
    nblocks = (counts + block_size - 1) // block_size
    term_idx = np.repeat(np.arange(len(counts)), nblocks)
    block_no = (np.concatenate([np.arange(b) for b in nblocks])
                if len(counts) else np.empty(0, dtype=np.int64))
    bstarts = term_offsets[term_idx] + block_no * block_size
    bends = np.minimum(bstarts + block_size, term_offsets[term_idx + 1])
    return term_idx, block_no, bstarts, bends


def _reset_gaps(vals: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Delta gaps of ``vals``, restarting (absolute value) at each index
    in ``starts`` — a block's first doc, a doc's first position."""
    gaps = vals.astype(np.uint64)
    gaps[1:] -= vals[:-1].astype(np.uint64)
    gaps[starts] = vals[starts]
    return gaps


def _seg_cumsum(gaps: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """The inverse of _reset_gaps: running sums of ``gaps`` restarting
    at each index in ``starts`` (ascending, starting at 0) -> int64.
    One global cumsum minus each segment's carry-in (uint64 wraps
    modulo 2^64, so the difference is exact)."""
    cs = np.cumsum(gaps, dtype=np.uint64)
    carry = np.concatenate((np.zeros(1, dtype=np.uint64), cs))[starts]
    lens = np.diff(np.append(starts, cs.size))
    return (cs - np.repeat(carry, lens)).astype(np.int64)


def _values(blobs) -> np.ndarray:
    """Raw values of ``blobs``, concatenated (one VByte pass) -> int64."""
    return vbyte_decode_slices(blobs)[0].astype(np.int64)


def _block_docs(doc_blobs) -> tuple[np.ndarray, np.ndarray]:
    """doc_blobs (gaps reset per block) -> (absolute doc ids, per-blob
    offsets into them), one VByte pass."""
    gaps, offsets = vbyte_decode_slices(doc_blobs)
    return _seg_cumsum(gaps, offsets[:-1]), offsets


def _term_doc_order(blocks, cols) -> dict:
    """The ``cols`` of block rows (a DataFrame, or a mapping of column
    arrays) sorted by (term, first_doc, block_no): each term's global
    doc order, its blocks being doc-disjoint -> {col: array}."""
    order = np.lexsort(tuple(np.asarray(blocks[c])
                             for c in ("block_no", "first_doc", "term")))
    return {c: np.asarray(blocks[c])[order] for c in cols}


def _decode_docs(blocks, cols: tuple):
    """Sort block rows (_term_doc_order) and decode their doc blobs ->
    (the sorted ``cols``, terms, term_offsets, docs)."""
    blocks = _term_doc_order(blocks, ("term", "doc_blob") + cols)
    term = blocks["term"]
    new_term = np.ones(term.size, dtype=bool)
    new_term[1:] = term[1:] != term[:-1]
    first = np.flatnonzero(new_term)
    docs, offsets = _block_docs(blocks["doc_blob"])
    return (blocks, term[first].tolist(),
            np.append(offsets[first], docs.size), docs)


def decode_postings(blocks):
    """Doc-postings block rows of any terms (a DataFrame, or a mapping
    of its column arrays) -> (terms, term_offsets, docs, tfs, dls), all
    int64: the inverse of _block_rows, one VByte pass per blob column.
    Term i owns ``[term_offsets[i], term_offsets[i + 1])``,
    doc-ascending."""
    blocks, terms, offsets, docs = _decode_docs(blocks,
                                                ("tf_blob", "dl_blob"))
    return (terms, offsets, docs, _values(blocks["tf_blob"]),
            _values(blocks["dl_blob"]))


def decode_positions(blocks: pd.DataFrame, offsets: bool = False):
    """Positional block rows of any terms -> (terms, term_offsets, docs,
    freqs, positions[, offset starts, token lengths]), all int64: the
    inverse of positional._pos_block_rows, one VByte pass per blob
    column.  Positions and offset starts restart at each doc, so doc
    j's ascending run starts at ``cumsum(freqs)[j] - freqs[j]``."""
    blocks, terms, term_offsets, docs = _decode_docs(
        blocks, ("freq_blob", "pos_blob")
        + (("ostart_blob", "olen_blob") if offsets else ()))
    freqs = _values(blocks["freq_blob"])
    runs = np.cumsum(freqs) - freqs
    out = (terms, term_offsets, docs, freqs,
           _seg_cumsum(vbyte_decode_slices(blocks["pos_blob"])[0], runs))
    if not offsets:
        return out
    return out + (
        _seg_cumsum(vbyte_decode_slices(blocks["ostart_blob"])[0], runs),
        _values(blocks["olen_blob"]))


def _doc_blocks(terms: list[str], term_offsets: np.ndarray,
                docs: np.ndarray, rbucket: int) -> tuple[np.ndarray, dict]:
    """Tile per-term doc slices into BLOCK_SIZE blocks -> (block starts,
    the columns every block layout shares: keys + delta-gap doc_blob)."""
    term_idx, block_no, bstarts, bends = tile_blocks(term_offsets,
                                                     BLOCK_SIZE)
    return bstarts, {
        "term": np.asarray(terms, dtype=object)[term_idx],
        "rbucket": np.full(bstarts.size, rbucket, dtype=np.int64),
        "block_no": block_no.astype(np.int32),
        "n": (bends - bstarts).astype(np.int32),
        "first_doc": docs[bstarts].astype(np.int64),
        "last_doc": docs[bends - 1].astype(np.int64),
        "doc_blob": vbyte_encode_slices(_reset_gaps(docs, bstarts), bstarts),
    }


def _block_rows(terms: list[str], term_offsets: np.ndarray,
                docs: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                rbucket: int) -> pd.DataFrame:
    """Vectorized block-row construction for a whole bucket/partition.

    ``terms``: per-term strings; ``term_offsets``: len(terms)+1 start
    offsets into the concatenated ``docs``/``tfs``/``dls`` arrays, each
    term's slice doc-ascending.  ONE VByte pass encodes everything; block
    stats come from np.*.reduceat — no per-term small-array overhead.
    """
    if docs.size == 0:
        return pd.DataFrame(columns=_COLS)
    bstarts, cols = _doc_blocks(terms, term_offsets, docs, rbucket)
    return pd.DataFrame({
        **cols,
        "max_tf": np.maximum.reduceat(tfs, bstarts).astype(np.int32),
        "min_dl": np.minimum.reduceat(dls, bstarts).astype(np.int32),
        "sum_tf": np.add.reduceat(tfs, bstarts).astype(np.int64),
        "tf_blob": vbyte_encode_slices(tfs, bstarts),
        "dl_blob": vbyte_encode_slices(dls, bstarts),
    }, columns=_COLS)


_WIDE_SCHEMA = (POSTINGS_SCHEMA + ", pos_sum_tf long, freq_blob binary, "
                "pos_blob binary, ostart_blob binary, olen_blob binary")


def _split_blocks(blocks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Wide builder rows -> (postings, positional) tables: two column
    projections of one build (cache or checkpoint ``blocks`` once)."""
    return blocks.select(*_COLS), blocks.select(
        *_COLS[:6], F.col("pos_sum_tf").alias("sum_tf"), "doc_blob",
        "freq_blob", "pos_blob", "ostart_blob", "olen_blob")


def _doc_order(offsets: np.ndarray, docs: np.ndarray,
               runs: np.ndarray | None = None):
    """Doc-order guard -> (row order, flat gather), or (None, None) when
    every term's rows are already doc-ascending.  Rows reach an encoder
    doc-unordered when a partition arrives unsorted (range partitioning
    does not sort within partitions) or when compaction concatenates
    doc-SET-disjoint buckets; the uint64 gap encode would then wrap.
    ``order`` sorts each term's slice of ``docs`` (terms stay grouped);
    ``gather`` moves each row's run of ``runs[i]`` flat entries
    (positions, offsets) along with it."""
    row_term = np.repeat(np.arange(offsets.size - 1), np.diff(offsets))
    if not (docs[1:] < docs[:-1])[row_term[1:] == row_term[:-1]].any():
        return None, None
    order = np.lexsort((docs, row_term))
    if runs is None:
        return order, None
    runs = runs.astype(np.int64)
    starts, lens = (np.cumsum(runs) - runs)[order], runs[order]
    return order, (np.arange(lens.sum(), dtype=np.int64)
                   + np.repeat(starts - (np.cumsum(lens) - lens), lens))


def _index_blocks(docs_with_ids: DataFrame, id_col: str, fields: list[str],
                  analyzer=None, rbucket_base: int = 0,
                  flush_tokens: int = FLUSH_POSTINGS,
                  positions: bool = False, store_offsets: bool = False,
                  terms_fn=None, spans_fn=None) -> DataFrame:
    """The one index builder behind index_corpus, positional_postings,
    FulltextIndex.build and the streaming segments.

    Per doc-range partition it analyzes each doc once per field (the
    token source is picked once, before the doc loop), keeps one
    accumulator and flushes it every ~``flush_tokens`` tokens (see
    FLUSH_POSTINGS).  Postings tf and dl count every token, stacked ones
    included; positional freq counts distinct positions (the first
    token at a position keeps its offsets).  Without ``positions`` the
    rows are POSTINGS_SCHEMA and the memoized ``terms()`` stream feeds
    them; with it the analyzer's ``tokens()`` does (the default chain:
    ``_analyze_occurrences``, memoized per raw token) and the rows are
    _WIDE_SCHEMA — a term's doc blocks and
    positional blocks tile identically (same slices, one BLOCK_SIZE), so
    ``_split_blocks`` projects the two tables out of one row."""
    from .fulltext import FIELD_SEP

    if positions:
        from .positional import _pos_block_rows
        if spans_fn is not None:
            def occurrences(text):
                return ((t, p, s, e - s)
                        for p, (t, s, e) in enumerate(spans_fn(text)))
        elif terms_fn is not None:
            def occurrences(text):
                return ((t, p, 0, 0) for p, t in enumerate(terms_fn(text)))
        elif analyzer is not None:
            def occurrences(text):
                pos = -1
                for t in analyzer.tokens(text):
                    pos += t.pos_inc
                    yield t.term, pos, t.start, t.end - t.start
        else:
            from ..analysis.chain import _analyze_occurrences as occurrences

        def doc_terms(text):
            # term -> [tf, {pos: (start, len)}]
            per_term: dict[str, list] = {}
            dl = 0
            for term, pos, start, length in occurrences(text):
                dl += 1
                e = per_term.get(term)
                if e is None:
                    e = per_term[term] = [0, {}]
                e[0] += 1
                e[1].setdefault(pos, (start, length))
            return dl, per_term.items()
    else:
        if analyzer is not None:
            terms_of = analyzer.terms
        else:
            from ..analysis.chain import analyze_terms as terms_of

        def doc_terms(text):
            toks = terms_of(text)
            return len(toks), Counter(toks).items()

    prefixes = [""] + [f + FIELD_SEP for f in fields[1:]]
    # accumulator columns: doc, tf, dl [, freq | flat pos [, start, len]]
    width = (7 if store_offsets else 5) if positions else 3

    def build(batches):
        from array import array

        from pyspark import TaskContext

        base = rbucket_base + TaskContext.get().partitionId()
        # array('q') accumulators: ~4x less memory than Python int lists
        # (the per-partition working set is what pressures the DRAM bus
        # under 32 workers — see BENCH/BASELINE.md scaling notes)
        acc: dict[str, tuple] = {}

        def flush(rb: int) -> pd.DataFrame:
            terms = sorted(acc)
            cols = [np.concatenate([np.frombuffer(acc[t][j], dtype=np.int64)
                                    for t in terms]).astype(np.uint64)
                    for j in range(width)]
            offsets = np.concatenate(([0], np.cumsum(
                [len(acc[t][0]) for t in terms]))).astype(np.int64)
            order, gather = _doc_order(offsets, cols[0],
                                       cols[3] if positions else None)
            if order is not None:
                cols = ([c[order] for c in cols[:4]]
                        + [c[gather] for c in cols[4:]])
            acc.clear()
            out = _block_rows(terms, offsets, *cols[:3], rb)
            if positions:
                pos = _pos_block_rows(terms, offsets, cols[0], *cols[3:5],
                                      rb, *cols[5:])
                out["pos_sum_tf"] = pos["sum_tf"].to_numpy()
                for c in ("freq_blob", "pos_blob", "ostart_blob",
                          "olen_blob"):
                    out[c] = pos[c].to_numpy()
            return out

        pending = flush_no = 0
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            field_vals = [pdf[f].tolist() for f in fields]
            for ri, did in enumerate(ids):
                # all fields of a doc accumulate BEFORE the flush check:
                # a doc's postings never straddle flushes (the rbucket
                # doc-disjointness invariant, per doc across fields)
                for prefix, vals in zip(prefixes, field_vals):
                    dl, items = doc_terms(vals[ri] or "")
                    for term, val in items:
                        key = prefix + term if prefix else term
                        e = acc.get(key)
                        if e is None:
                            e = acc[key] = tuple(array("q")
                                                 for _ in range(width))
                        e[0].append(did)
                        e[2].append(dl)
                        if positions:
                            tf, pmap = val
                            ps = sorted(pmap)
                            e[1].append(tf)
                            e[3].append(len(ps))
                            e[4].extend(ps)
                            if store_offsets:
                                e[5].extend(pmap[p][0] for p in ps)
                                e[6].extend(pmap[p][1] for p in ps)
                        else:
                            e[1].append(val)
                    pending += dl
                if pending >= flush_tokens and acc:
                    yield flush(base * RBUCKET_STRIDE + flush_no)
                    pending, flush_no = 0, flush_no + 1
        if acc:
            yield flush(base * RBUCKET_STRIDE + flush_no)

    return docs_with_ids.select(id_col, *fields).mapInPandas(
        build, schema=_WIDE_SCHEMA if positions else POSTINGS_SCHEMA)


def index_corpus(docs_with_ids: DataFrame, id_col: str = "doc_id",
                 text_col: str = "content", analyzer=None,
                 rbucket_base: int = 0,
                 flush_postings: int = FLUSH_POSTINGS,
                 fields: list[str] | None = None) -> DataFrame:
    """Fused analyze + posting-block build, one pass, zero extra shuffle
    (the postings view of ``_index_blocks``, fed by ``terms()``).

    ``docs_with_ids`` must be partitioned into disjoint doc_id ranges
    (with_doc_ids output is).  Partition memory is bounded by
    ``flush_postings`` tokens (the accumulator spills finished doc sets
    to block rows incrementally — see FLUSH_POSTINGS), NOT by partition
    or term df size — the heavy-term problem is structurally absent and
    the working set stays cache-friendly at any input split size.

    ``analyzer``: optional analysis.analyzers.Analyzer (custom chain —
    hunspell/morphology stemmers, char maps, custom stop sets); defaults
    to the reference flagship chain.  Queries must use the same analyzer.

    ``rbucket_base``: offset added to the partition id — multi-segment
    builders (chunked/resumable, streaming epochs) pass a per-segment
    base so rbuckets stay globally unique: every rbucket must hold ALL
    postings of a disjoint doc set (the WAND and tree kernels' bucket
    invariant), and a positional index must put each doc's positions in
    the rbucket of its postings (the tree kernel's phrase leaves) —
    build both tables in ONE ``_index_blocks(positions=True)`` pass
    with the same base.  Emitted rbuckets are
    (rbucket_base + partition_id) * RBUCKET_STRIDE + flush_no.

    ``fields``: MULTI-FIELD mode — a list of text columns indexed in
    the SAME pass (``text_col`` is ignored).  fields[0] is the default
    field, stored bare; other fields' terms are stored as
    "<field>\\x1f<term>" (fulltext.FIELD_SEP), so per-field df/cf fall
    out of the ordinary term stats and dl is the FIELD length (Lucene's
    per-field norms).  A doc's postings across ALL its fields land in
    the same flush, hence the same rbucket — the per-bucket
    boolean/WAND kernels see a doc's complete cross-field membership.
    """
    return _index_blocks(docs_with_ids, id_col,
                         list(fields) if fields else [text_col], analyzer,
                         rbucket_base, flush_postings)


def pack_bucket_groups(stats: DataFrame, target: int) -> DataFrame:
    """Bucket-extent stats ``(rbucket, lo, w)`` -> ``(rbucket, _gid)``:
    contiguous doc-range runs of ~``target`` total weight, in ``lo``
    order — the compaction pack assignment, computed DISTRIBUTIVELY.

    The round-3 implementation collected one stats row per bucket and
    packed greedily on the driver — metadata-only, but ~10^6-10^7 rows
    through the driver per compaction at 10^12-doc scale.  This version
    computes the exclusive weighted cumsum with the same two-phase
    scheme as ``fulltext.dense_rank_ids`` (range partition on ``lo``,
    per-partition window, driver-side prefix offsets over #partitions
    integers) and assigns ``_gid = floor(cum_excl / target)`` — groups
    are still contiguous runs of doc-disjoint ranges (the WAND/boolean
    bucket invariant survives), only the exact pack boundaries differ
    from the greedy rule (physical layout, never results).  ``lo`` is a
    unique key: buckets are doc-set disjoint, so two buckets cannot
    share a minimum doc id."""
    from pyspark.sql import Window

    spark = stats.sparkSession
    n_part = spark.sparkContext.defaultParallelism
    ranged = (stats.repartitionByRange(n_part, "lo")
              .withColumn("_pid", F.spark_partition_id())
              .withColumn("_cum", F.sum("w").over(
                  Window.partitionBy("_pid").orderBy("lo")))
              .localCheckpoint(eager=False))
    totals = ranged.groupBy("_pid").agg(F.sum("w").alias("t")).collect()
    offsets, acc = [], 0
    for row in sorted(totals, key=lambda r: r["_pid"]):
        offsets.append((row["_pid"], acc))
        acc += int(row["t"])
    off = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    return (ranged.join(F.broadcast(off), "_pid", "left")
            .withColumn("_gid",
                        ((F.col("_cum") - F.col("w")
                          + F.coalesce("_off", F.lit(0)))
                         / F.lit(target)).cast("long"))
            .select("rbucket", "_gid"))


def compact_postings(postings: DataFrame,
                     target_postings: int = FLUSH_POSTINGS) -> DataFrame:
    """Segment compaction — Lucene's TieredMergePolicy role.

    Chunked, resumed, streamed, or flush-bounded builds leave MANY small
    doc-range buckets, each with fragmented (often 1-doc) blocks per
    term: query-time block metadata scans and per-bucket kernel launches
    grow with fragment count, not data size.  Compaction rewrites the
    index into full-size blocks:

    1. per-rbucket extent stats (one row per bucket) are packed, in
       doc-range order, into groups of ~``target_postings`` postings by
       ``pack_bucket_groups`` — a distributed prefix-sum assignment (no
       full driver collect; the driver sees #partitions integers).
       Buckets are doc-disjoint by construction, and packing only merges
       ADJACENT ranges, so every group is again a contiguous, disjoint
       doc range — the WAND/boolean bucket invariant survives;
    2. one applyInPandas pass per group decodes its blocks in one pass
       (decode_postings; first_doc order == global doc order) and
       rebuilds through the same ``_block_rows`` vectorized encoder the
       builders use.

    Results are BIT-IDENTICAL for every consumer (same postings, same
    per-bucket evaluation; term_stats/corpus_stats are Σ-preserved);
    only the physical block/bucket layout changes.  Shuffle cost: one
    groupBy over the postings rows — no corpus re-scan, no re-tokenize.
    """
    return _compact_postings(postings,
                             bucket_groups(postings, "n", target_postings))


def bucket_groups(table: DataFrame, weight: str, target: int) -> DataFrame:
    """``(rbucket, _gid)`` pack mapping of a posting or positional table:
    pack_bucket_groups over its per-bucket extents, weighted by Σ
    ``weight`` per bucket."""
    return pack_bucket_groups(
        table.groupBy("rbucket").agg(F.min("first_doc").alias("lo"),
                                     F.sum(weight).alias("w")), target)


def _compact_postings(postings: DataFrame, mapping: DataFrame) -> DataFrame:
    """compact_postings over a given ``(rbucket, _gid)`` pack mapping:
    group ``_gid`` becomes the new rbucket."""

    def compact_group(pdf: pd.DataFrame) -> pd.DataFrame:
        terms, offsets, *cols = decode_postings(pdf)
        order, _ = _doc_order(offsets, cols[0])
        if order is not None:
            cols = [c[order] for c in cols]
        return _block_rows(terms, offsets, *cols, int(pdf["_gid"].iloc[0]))

    return (postings.join(F.broadcast(mapping), "rbucket")
            .groupBy("_gid")
            .applyInPandas(compact_group, schema=POSTINGS_SCHEMA))


# term-set predicates switch from an isin literal (pushed into the parquet
# scan) to a broadcast semi-join past this size: a 10^4-term IN-list bloats
# the plan/task binaries and stops being pushable, while a broadcast hash
# semi-join stays O(set) per task — the serving path for large batched
# query sets (and prefix expansions) over a 10^9-term vocabulary
_ISIN_MAX = 512


def _filter_terms(df: DataFrame, terms: list[str]) -> DataFrame:
    """The rows of a term-keyed table (postings, positional blocks, term
    stats) whose term is in ``terms`` — the pruned scan every bucket
    kernel starts from."""
    if len(terms) <= _ISIN_MAX:
        return df.filter(F.col("term").isin(list(terms)))
    # built from pandas, the term table is a local relation (Arrow): its
    # broadcast runs no Python worker task, unlike a parallelized list
    tdf = df.sparkSession.createDataFrame(
        pd.DataFrame({"term": list(terms)}), "term string")
    return df.join(F.broadcast(tdf), "term", "left_semi")


def term_dfs(tstats: DataFrame, terms) -> dict[str, int]:
    """{term: df} for those of ``terms`` in ``tstats`` — one filtered
    collect (no job for an empty term set).  The plan functions take
    this resolved map; an index with a driver-resident dictionary
    passes its own (engine.FulltextIndex)."""
    if not terms:
        return {}
    return {r["term"]: int(r["df"]) for r in
            _filter_terms(tstats, sorted(terms)).select("term", "df")
            .collect()}


def _topk_cut(docs: np.ndarray, scores: np.ndarray,
              k: int) -> tuple[np.ndarray, np.ndarray]:
    """Tie-correct top-k by (score desc, doc asc), returned sorted.
    argpartition alone picks ARBITRARY members of a tie group at the k
    boundary — include every doc scoring >= the k-th best, then order
    and cut."""
    if docs.size > k:
        kth = -np.partition(-scores, k - 1)[k - 1]
        cand = np.flatnonzero(scores >= kth)
        order = cand[np.lexsort((docs[cand], -scores[cand]))][:k]
    else:
        order = np.lexsort((docs, -scores))
    return docs[order], scores[order]


def matched_doc_ids(postings: DataFrame,
                    terms_df: DataFrame) -> DataFrame:
    """Distinct doc ids carrying ANY term of ``terms_df`` ->
    (doc_id) — the doc-set form of a huge negative expansion
    (engine.query's anti-join fallback, r4 VERDICT item 4): the term
    set stays a DATAFRAME end to end (semi-join prunes the block scan;
    blobs decode in a mapInPandas; distinct dedupes doc ids).  Nothing
    term-shaped ever reaches the driver or a task closure."""
    sel = (postings.join(terms_df.select("term").distinct(), "term",
                         "left_semi")
           .select("doc_blob"))

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield pd.DataFrame({"doc_id": np.unique(
                    _block_docs(pdf["doc_blob"])[0])})

    return sel.mapInPandas(gen, schema="doc_id long").distinct()


def term_stats_from_postings(postings: DataFrame) -> DataFrame:
    """(term, df, cf) derived from block metadata — no corpus re-scan."""
    return postings.groupBy("term").agg(
        F.sum("n").alias("df"), F.sum("sum_tf").alias("cf"))


def term_dict_from_postings(postings: DataFrame) -> DataFrame:
    """Sorted term dictionary with dense ids (the FST role, SURVEY §1.4).
    Two-phase range rank — no single-partition window at vocab scale."""
    from .fulltext import dense_rank_ids
    return dense_rank_ids(
        term_stats_from_postings(postings), ["term"], "term_id", start=1,
        precache=True)


def corpus_stats_from_postings(postings: DataFrame, n_docs: int) -> float:
    """avgdl from block metadata: Σ sum_tf == Σ dl over docs."""
    total = postings.agg(F.sum("sum_tf")).collect()[0][0] or 0
    return float(total) / n_docs if n_docs else 0.0


def read_postings(spark, path: str) -> DataFrame:
    """Open a write_postings directory with its format header checked
    (functions/header.py — CodecUtil's role): a stale or foreign layout
    fails HERE with a versioned message, not mid-decode."""
    from ..functions.header import (POSTINGS_CODEC, POSTINGS_VERSION,
                                    check_dir_header)
    check_dir_header(path, POSTINGS_CODEC, 2, POSTINGS_VERSION)
    return spark.read.parquet(path)


def write_postings(postings: DataFrame, path: str) -> None:
    """Persist range-partitioned + sorted by term so parquet row-group
    min/max statistics prune term lookups (the sorted-FST role).
    Stamps a _FORMAT.json header (codec + version, functions/header.py)
    so a reader against a stale layout fails cleanly.

    The blocks are persisted across the two passes the range partitioner
    needs (boundary sampling + the real shuffle) — otherwise the sampling
    job silently RE-RUNS the whole upstream index build (measured: 2x
    build cost on a 1M-doc corpus).  A DataFrame the CALLER already
    persisted — or a column projection of one, like the postings view
    of a cached positional build — is left as it is: both passes then
    scan the caller's cache, and persisting here would cache the blocks
    a second time (or, on unpersist, evict the caller's cache — persist/
    unpersist key on the plan, not on this reference)."""
    from pyspark import StorageLevel

    plan = postings._jdf.queryExecution().withCachedData()
    while plan.nodeName() == "Project":
        plan = plan.child()
    already = plan.nodeName() == "InMemoryRelation"

    def write(df):
        from ..functions.header import (POSTINGS_CODEC, POSTINGS_VERSION,
                                        write_dir_header)
        (df.repartitionByRange("term")
         .sortWithinPartitions("term", "rbucket", "block_no")
         .write.mode("overwrite").parquet(path))
        write_dir_header(path, POSTINGS_CODEC, POSTINGS_VERSION)

    if already:
        write(postings)
        return
    p = postings.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        write(p)
    finally:
        p.unpersist()
