"""Resumable index build with per-chunk lineage + metrics (SURVEY §2-C
"Checkpoint/resume").

North rule: "resumable from checkpoint with per-partition lineage and
timing metrics".  Production target is Iceberg snapshots; the Iceberg
runtime isn't in this image (sources/tables.py probes for it), so the
same protocol is implemented over plain directories — the LOGIC
(deterministic chunking, idempotent commits, anti-join of completed work
on restart) is storage-agnostic:

1. Stage 0 (idempotent): materialize ``docs_with_ids`` to parquet —
   deterministic doc ids are themselves the first checkpoint; every chunk
   derives from this table by a doc_id RANGE FILTER (pushed down to the
   parquet scan, so a resume reads only the pending ranges).
2. The doc-id space is split into fixed chunks.  Each chunk builds its
   posting blocks (postings._index_blocks) and commits them under
   ``postings/chunk=<i>`` followed by ONE lineage row (chunk id, doc
   range, rows, bytes, wall seconds, finished_at).  The lineage row is
   written LAST — a chunk directory without its lineage row is garbage
   from a crash and is overwritten on resume (mode=overwrite per chunk =
   idempotent commit).  With ``positional=True`` the chunk's ONE
   builder pass (postings._index_blocks) also commits its positional
   blocks under ``positional/chunk=<i>`` before the lineage row, in the
   same rbuckets as its postings (the tree kernel's phrase leaves need
   each doc's postings and positions in one rbucket).
3. ``resume()`` reads the lineage table and runs only missing chunks
   (and, for a positional build, chunks committed without positions).

A crashed build therefore never recomputes finished chunks and never
double-counts half-written ones.  At Iceberg, steps 2-3 map to
appends + snapshot ids with the lineage table keyed by snapshot.
"""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .fulltext import with_doc_ids
from .postings import _index_blocks, _split_blocks

LINEAGE_SCHEMA = ("chunk int, first_doc long, last_doc long, n_docs long, "
                  "block_rows long, bytes long, wall_sec double, "
                  "finished_at double")


class ResumableIndexBuild:
    def __init__(self, spark: SparkSession, workdir: str,
                 chunk_docs: int = 1 << 20, text_col: str = "content",
                 positional: bool = False, store_offsets: bool = False):
        self.spark = spark
        self.workdir = workdir
        self.chunk_docs = chunk_docs
        self.text_col = text_col
        self.positional = positional
        self.store_offsets = store_offsets
        self.ids_path = os.path.join(workdir, "docs_with_ids")
        self.postings_path = os.path.join(workdir, "postings")
        self.positional_path = os.path.join(workdir, "positional")
        self.lineage_path = os.path.join(workdir, "lineage")

    # -- stage 0: deterministic ids, materialized once --------------------
    def ensure_ids(self, docs: DataFrame,
                   order_cols: list[str]) -> DataFrame:
        if not os.path.exists(os.path.join(self.ids_path, "_SUCCESS")):
            with_doc_ids(docs, order_cols).write.mode("overwrite") \
                .parquet(self.ids_path)
        return self.spark.read.parquet(self.ids_path)

    def _check_or_stamp_format(self) -> None:
        """Workdir format guard (functions/header.py, CodecUtil's role):
        a FRESH workdir gets stamped with the current layout version; a
        workdir with prior state (ids/postings/lineage) must carry a
        compatible header — resuming against a stale layout fails here
        with a versioned error instead of a confusing decode failure."""
        from ..functions.header import (INDEX_WORKDIR_CODEC,
                                        INDEX_WORKDIR_VERSION,
                                        check_dir_header, write_dir_header)
        has_state = any(os.path.exists(p) for p in
                        (self.ids_path, self.postings_path,
                         self.lineage_path))
        sidecar = os.path.join(self.workdir, "_FORMAT.json")
        if os.path.exists(sidecar) or has_state:
            check_dir_header(self.workdir, INDEX_WORKDIR_CODEC,
                             INDEX_WORKDIR_VERSION, INDEX_WORKDIR_VERSION)
        else:
            os.makedirs(self.workdir, exist_ok=True)
            write_dir_header(self.workdir, INDEX_WORKDIR_CODEC,
                             INDEX_WORKDIR_VERSION)

    def _drop_stale_positional(self) -> None:
        """A positional directory from an older layout (a different
        header version — e.g. the unchunked, separately bucketed one) is
        derived data: remove it so every chunk rebuilds its positions."""
        from ..functions.header import (POSITIONAL_CODEC, POSITIONAL_VERSION,
                                        FormatError, check_dir_header)
        if not os.path.exists(os.path.join(self.positional_path,
                                           "_FORMAT.json")):
            return
        try:
            check_dir_header(self.positional_path, POSITIONAL_CODEC,
                             POSITIONAL_VERSION, POSITIONAL_VERSION)
        except FormatError:
            shutil.rmtree(self.positional_path)

    def completed_chunks(self) -> set[int]:
        if not os.path.exists(self.lineage_path):
            return set()
        try:
            rows = self.spark.read.parquet(self.lineage_path) \
                .select("chunk").collect()
            return {r["chunk"] for r in rows}
        except Exception:
            return set()

    def _append_lineage(self, row: tuple) -> None:
        self.spark.createDataFrame([row], LINEAGE_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(self.lineage_path)

    # -- chunked, idempotent build ----------------------------------------
    def run(self, docs: DataFrame, order_cols: list[str],
            fail_after_chunks: int | None = None) -> DataFrame:
        """Build (or resume) the index; returns the postings DataFrame.

        ``fail_after_chunks`` injects a crash after N chunk commits — used
        by the kill/resume test.
        """
        self._check_or_stamp_format()
        if self.positional:
            self._drop_stale_positional()
        ids = self.ensure_ids(docs, order_cols)
        max_id = ids.agg(F.max("doc_id")).collect()[0][0]
        if max_id is None:  # empty corpus: a valid (empty) index, not a crash
            from .postings import POSTINGS_SCHEMA
            return self.spark.createDataFrame([], POSTINGS_SCHEMA)
        n_docs = max_id + 1
        n_chunks = (n_docs + self.chunk_docs - 1) // self.chunk_docs
        done = self.completed_chunks()
        ran = 0
        for chunk in range(int(n_chunks)):
            pos_out = os.path.join(self.positional_path, f"chunk={chunk}")
            need_pos = self.positional and not os.path.exists(
                os.path.join(pos_out, "_SUCCESS"))
            if chunk in done and not need_pos:
                continue
            lo = chunk * self.chunk_docs
            hi = min(lo + self.chunk_docs, n_docs)
            t0 = time.time()
            part = ids.filter((F.col("doc_id") >= lo)
                              & (F.col("doc_id") < hi))
            out = os.path.join(self.postings_path, f"chunk={chunk}")
            blocks = _index_blocks(part, "doc_id", [self.text_col],
                                   rbucket_base=chunk << 20,
                                   positions=self.positional,
                                   store_offsets=self.store_offsets)
            if self.positional:
                # both tables from one pass: same docs, same rbuckets
                blocks = blocks.persist()
                postings, pos = _split_blocks(blocks)
                pos.write.mode("overwrite").parquet(pos_out)
                postings.write.mode("overwrite").parquet(out)
                blocks.unpersist()
            else:
                blocks.write.mode("overwrite").parquet(out)
            if chunk in done:       # positions added to a committed chunk
                continue
            stats = self.spark.read.parquet(out).agg(
                F.count("*").alias("rows"),
                F.sum(F.length("doc_blob") + F.length("tf_blob")
                      + F.length("dl_blob")).alias("bytes")).collect()[0]
            self._append_lineage((chunk, lo, hi - 1, hi - lo,
                                  stats["rows"] or 0, stats["bytes"] or 0,
                                  time.time() - t0, time.time()))
            ran += 1
            if fail_after_chunks is not None and ran >= fail_after_chunks:
                raise RuntimeError(f"injected crash after {ran} chunks")
        if self.positional:
            from ..functions.header import (POSITIONAL_CODEC,
                                            POSITIONAL_VERSION,
                                            write_dir_header)
            write_dir_header(self.positional_path, POSITIONAL_CODEC,
                             POSITIONAL_VERSION)
        return self.postings()

    def postings(self) -> DataFrame:
        return self.spark.read.option("basePath", self.postings_path) \
            .parquet(os.path.join(self.postings_path, "chunk=*"))

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_path)
