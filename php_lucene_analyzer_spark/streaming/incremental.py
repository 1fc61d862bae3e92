"""Incremental (streaming) index maintenance via Structured Streaming.

The batch engine treats the index as segments (doc-range buckets); a
stream of new documents extends it naturally: each micro-batch becomes a
new segment with doc ids above every existing id — exactly Lucene's
segment-append model, expressed as readStream -> foreachBatch(index).

Doc-id scheme: ``(epoch_id << EPOCH_SHIFT) | row_number_in_batch`` —
monotone across batches (exactly-once via the streaming checkpoint: a
replayed batch reuses its epoch and overwrites the same segment dir, so
the commit is idempotent), disjoint from batch builds that stay below
2**EPOCH_SHIFT docs... per epoch.  ``rbucket`` is epoch-scoped for the
same reason.

The WAND/query side is oblivious: it reads the union of segment
directories (or one table at Iceberg).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery

from ..operators.postings import _index_blocks, _split_blocks

EPOCH_SHIFT = 40


def _index_batch(batch_df: DataFrame, epoch_id: int, out_dir: str,
                 positional_dir: str | None = None,
                 store_offsets: bool = False) -> None:
    if batch_df.isEmpty():
        return
    # micro-batches are small; a single-partition window is fine here
    # (batch builds use the two-phase range scheme in with_doc_ids)
    w = F.row_number().over(Window.partitionBy(F.lit(1)).orderBy("repo", "path"))
    # epoch+1: Structured Streaming batch ids are 0-BASED — epoch 0 must
    # not mint doc ids 0,1,2,... that collide with a batch-built index
    # the segments are unioned with (the module contract is "ids above
    # every existing id")
    doc_base = (int(epoch_id) + 1) << EPOCH_SHIFT
    # rbucket base keeps stream buckets disjoint from batch buckets AND
    # from other epochs (the builder grew this parameter for exactly
    # this caller; correctness never depends on it — WAND orders blocks
    # by first_doc — but bucket balance does)
    rb_base = (int(epoch_id) + 1) << 32
    ids = batch_df.withColumn("doc_id",
                              (F.lit(doc_base) + w - 1).cast("long"))
    blocks = _index_blocks(ids, "doc_id", ["content"],
                           rbucket_base=rb_base,
                           positions=positional_dir is not None,
                           store_offsets=store_offsets)
    postings = blocks
    if positional_dir is not None:
        # one builder run feeds both segment tables
        postings, pos = _split_blocks(blocks.localCheckpoint(eager=False))
        pos.write.mode("overwrite").parquet(
            os.path.join(positional_dir, f"epoch={int(epoch_id)}"))
    postings.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"epoch={int(epoch_id)}"))


def stream_index(spark: SparkSession, input_dir: str, out_dir: str,
                 checkpoint_dir: str, schema: str =
                 "repo string, path string, commit string, lang string, "
                 "content string",
                 positional_dir: str | None = None,
                 store_offsets: bool = False) -> StreamingQuery:
    """Start an availableNow streaming index over a parquet drop directory.

    Exactly-once per micro-batch: the epoch-keyed segment dir is
    overwritten on replay; the streaming checkpoint tracks consumed files.
    ``positional_dir`` additionally maintains epoch-scoped positional
    block segments so phrase queries cover the streamed corpus too
    (``store_offsets=True`` carries char offsets for snippet queries —
    round 4).
    """
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))
    return (stream.writeStream
            .foreachBatch(lambda df, eid: _index_batch(
                df, eid, out_dir, positional_dir, store_offsets))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_streamed_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", out_dir) \
        .parquet(os.path.join(out_dir, "epoch=*"))
